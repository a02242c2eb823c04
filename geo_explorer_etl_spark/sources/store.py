"""Table store: the SQL Server sink re-imagined for Spark
(SURVEY.md §2.1 S8–S11, §2.12 I2).

Parquet tables partitioned by ``IndicatorThemeId`` (the product id)
give the reference's delete-then-append product replace (reference
scdb.py:32–72) as an atomic-per-partition dynamic overwrite — no
6-table cascading DELETE, no transaction bookkeeping. Delta/Iceberg
would add cross-table atomicity; their jars aren't in this image, so
the store isolates the commit protocol behind one class (swap the
implementation, keep the pipeline).

At 100 TB: partitioning by product bounds every replace to the files
of one product; appends never rewrite history; readers prune on
partition column automatically.
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import CommitBackend, CommitConflict, make_backend

COMMITTED = "_committed.json"  # per-partition live-file manifest (hidden from Spark's own discovery by the leading underscore)
EPOCHS = "_epochs.json"        # exactly-once streaming ledger (high-water batch id per stream)
CONSTRAINTS = "_constraints.json"  # store-root blob: per-table NOT NULL / CHECK constraints


class ConstraintViolation(ValueError):
    """A write would publish rows that break a declared table
    constraint — raised BEFORE the manifest swap, so the snapshot
    readers resolve never contains the offending rows."""


# -- file-level data skipping -----------------------------------------------
# Manifests carry per-file column min/max ("zone maps"), harvested from
# the parquet footers at commit time (publish / append / compact). A
# predicate-bearing read then drops files whose stats PROVE no row can
# match — below the IndicatorThemeId partition grain, this is the
# single biggest scan reducer for the web app's per-indicator reads
# (SURVEY §2.14 filters far below product grain). Skipping is purely an
# optimization: the same predicate is also applied as a real filter on
# the returned frame, so a file kept conservatively (no stats, type
# mismatch, legacy manifest) never changes the result.


def _norm_stat(v):
    """Normalize a footer statistic (or a caller's predicate value) to a
    JSON-storable, order-preserving scalar: numbers stay numeric,
    date/datetime become ISO strings (lexicographic == chronologic),
    bytes decode to str. None = not comparable -> no pruning on it.
    Decimals are excluded: their string form does not order correctly
    and floating them would be lossy."""
    import datetime

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        import math

        # a NaN bound/probe is incomparable BY VALUE: every ordered
        # comparison against it is False, which reads as "provably
        # misses" in set-membership loops and would wrongly prune
        # files whose NaN rows Spark's semantics DO match (NaN equals
        # NaN and sorts above everything) — None = never prune on it
        return None if math.isnan(v) else v
    if isinstance(v, int):
        return v
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.datetime):
        # normalize tz-aware stats (parquet isAdjustedToUTC) to naive
        # UTC so they compare exactly against naive-UTC caller values
        # (the session timezone is pinned to UTC) — an appended "+00:00"
        # suffix would corrupt lexicographic ordering at equal instants
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _temporal_shape(s: str) -> str:
    """Classify a normalized string stat/bound: 'date' (exactly
    YYYY-MM-DD), 'datetime' (ISO date + 'T' time), or 'str' (anything
    else). Pruning only compares strings of the SAME shape: a date
    predicate against timestamp stats (or vice versa) normalizes to
    mixed granularity ('2024-01-15' vs '2024-01-15T08:30:00') where
    lexicographic order no longer tracks Spark's re-applied filter
    semantics (date→timestamp midnight cast) — and for genuine string
    columns holding ISO-looking values, any granularity "expansion"
    would be unsound. Mixed shape ⇒ non-comparable ⇒ keep the file."""
    import re

    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s):
        return "date"
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}T.*", s):
        return "datetime"
    return "str"


def _stat_comparable(a, b) -> bool:
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num):
        return True
    if isinstance(a, str) and isinstance(b, str):
        return _temporal_shape(a) == _temporal_shape(b)
    return False


def _parquet_file_stats(path: Path, pf=None) -> tuple[dict[str, list], int] | None:
    """Per-column [min, max] over all row groups of one parquet file,
    plus the file's exact row count — one footer read, no data pages.
    Columns whose stats are missing in ANY row group are omitted
    (unknown -> never pruned). Parquet's truncated string stats are
    safe here: a truncated min is a prefix (<= the true min), a
    truncated max is prefix+1 (>= the true max), so the bounds stay
    conservative.

    Also records per-column NULL COUNTS (reserved key ``__nulls__``)
    for columns whose every row group reports one: min/max exclude
    nulls, so proving a predicate true for ALL rows of a file
    (``_file_all_match`` — delete_where's drop-without-rewrite fast
    path) additionally needs proof the column holds no nulls."""
    try:
        import pyarrow.parquet as pq

        md = (pf if pf is not None else pq.ParquetFile(str(path))).metadata
    except Exception:
        return None
    out: dict[str, list] = {}
    bad: set[str] = set()
    nulls: dict[str, int] = {}
    null_bad: set[str] = set()
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaf: not top-level-pruneable
                continue
            st = col.statistics
            if name not in null_bad:
                nc = st.null_count if st is not None else None
                if nc is None:
                    null_bad.add(name)
                    nulls.pop(name, None)
                else:
                    nulls[name] = nulls.get(name, 0) + int(nc)
            if name in bad:
                continue
            has = st is not None and st.has_min_max
            mn = _norm_stat(st.min) if has else None
            mx = _norm_stat(st.max) if has else None
            if mn is None or mx is None:
                bad.add(name)
                out.pop(name, None)
                continue
            if name in out:
                prev_mn, prev_mx = out[name]
                if not (_stat_comparable(prev_mn, mn) and _stat_comparable(prev_mx, mx)):
                    bad.add(name)
                    out.pop(name, None)
                    continue
                out[name] = [min(prev_mn, mn), max(prev_mx, mx)]
            else:
                out[name] = [mn, mx]
    if nulls:
        out["__nulls__"] = nulls  # type: ignore[assignment]
    return out, md.num_rows


def _normalize_bound(val):
    v = _norm_stat(val)
    return v


def _where_disjuncts(where) -> list:
    """Normalize a predicate into DISJUNCTS — lists of (col, op, val)
    conjunctions. Two accepted shapes (VERDICT r13 missing #2):

    - ``[(col, op, val), ...]`` — the classic conjunction (one
      disjunct);
    - ``[[...], "or", [...], "or", ...]`` — a disjunction of
      conjunctions (DNF): lists of tuples separated by the literal
      string ``"or"``.

    Zone maps UNION file sets across disjuncts (a file survives when
    ANY disjunct may match it), so an OR predicate prunes instead of
    forcing a full read + post-filter. Malformed mixes refuse
    loudly."""
    where = list(where)
    if "or" not in where:
        for t in where:
            if isinstance(t, (list, tuple)) and t and isinstance(
                t[0], (list, tuple)
            ):
                raise ValueError(
                    "predicate: nested clause lists must be separated by 'or' "
                    '— [[(col, op, val), ...], "or", [...]]'
                )
        return [where]
    parts: list = []
    expect_clause = True
    for el in where:
        if el == "or":
            if expect_clause:
                raise ValueError(
                    "predicate: 'or' must separate conjunction lists — "
                    '[[(col, op, val), ...], "or", [...]]'
                )
            expect_clause = True
            continue
        if not expect_clause:
            raise ValueError(
                "predicate: disjuncts must be separated by 'or'"
            )
        if not isinstance(el, (list, tuple)) or not el or not all(
            isinstance(t, (list, tuple)) and len(t) == 3 for t in el
        ):
            raise ValueError(
                "predicate: each OR disjunct must be a non-empty list of "
                f"(col, op, val) tuples, got {el!r}"
            )
        parts.append(list(el))
        expect_clause = False
    if expect_clause:
        raise ValueError("predicate: trailing 'or' with no disjunct")
    return parts


def _where_and(where, clause) -> list:
    """AND an extra ``(col, op, val)`` clause onto a predicate,
    DISTRIBUTING it across disjuncts when ``where`` is an OR form —
    appending to the raw list would attach the clause to only the
    last disjunct."""
    ds = _where_disjuncts(list(where or []))
    out = [d + [list(clause)] for d in ds]
    if len(out) == 1:
        return out[0]
    merged: list = []
    for i, d in enumerate(out):
        if i:
            merged.append("or")
        merged.append(d)
    return merged


def _where_listify(where) -> list:
    """JSON-clean copy of a predicate (tuples → lists, ``"or"``
    markers preserved) — the registry / serialization form."""
    if not where:
        return []
    ds = [[list(t) for t in d] for d in _where_disjuncts(list(where))]
    if len(ds) == 1:
        return ds[0]
    out: list = []
    for i, d in enumerate(ds):
        if i:
            out.append("or")
        out.append(d)
    return out


def _file_may_match(stats: dict[str, list] | None, where) -> bool:
    """Conservative zone-map + bloom check: False only when EVERY
    disjunct is proven empty against the file (file sets UNION across
    OR disjuncts); within a conjunction, False when some predicate is
    PROVEN empty against the file's [min, max] (or, for ``==``,
    provably absent from the file's bloom filter). Parquet min/max
    exclude nulls, and every supported op is null-rejecting, so
    pruning on non-null bounds is sound."""
    return any(
        _conj_may_match(stats, d) for d in _where_disjuncts(where)
    )


def _conj_may_match(stats: dict[str, list] | None, where) -> bool:
    blooms = (stats or {}).get("__bloom__") or {}
    nullc = (stats or {}).get("__nulls__") or {}
    for col, op, val in where:
        if op == "isnull":
            # a recorded ZERO null count proves no row matches; a
            # missing count keeps the file (conservative)
            if nullc.get(col) == 0:
                return False
            continue
        if op == "notnull":
            # only an all-null file is excludable, and manifests carry
            # no per-file row counts alongside the stats — keep
            continue
        if op == "==" and col in blooms:
            if not _bloom_may_contain(blooms[col], val):
                return False
        if op == "in" and col in blooms and len(val) > 0:
            # empty set never prunes (conservative — same contract as
            # the zone-map branch, property-pinned); None members are
            # inert for a positive IN (r16: they ride the list only
            # for negation) — prune on the non-null subset, exactly
            decoded = _bloom_decode(blooms[col])  # once per file, not per member
            if decoded is not None and not any(
                _bloom_test(*decoded, v, blooms[col].get("shape"))
                for v in val
                if v is not None
            ):
                return False
        if op == "notin" and len(val) > 0 and any(v is None for v in val):
            # `col NOT IN (..., NULL)` can never be TRUE for ANY row
            # (equal to a member -> FALSE; otherwise the NULL member
            # makes the result UNKNOWN) — every file is provably empty
            return False
        s = (stats or {}).get(col)
        if not s or col in ("__bloom__", "__nulls__"):
            continue
        mn, mx = s
        if op == "notin":
            # prune only a single-valued file whose one value is a
            # listed member: every non-null row then equals a member
            # (-> FALSE) and null rows never match a null-rejecting
            # predicate — provably empty without a null count. NOT on
            # a float-statted file: parquet min/max IGNORE NaN, and
            # NaN != v is TRUE under Spark semantics, so a [5.0, NaN]
            # file reports mn=mx=5.0 while its NaN row MATCHES
            # NOT IN (5.0) — the same nan_possible guard the '!='
            # branch below applies (r16 review find)
            members = [_normalize_bound(v) for v in val]
            if (
                members
                and all(
                    v is not None and _stat_comparable(mn, v) for v in members
                )
                and mn == mx
                and mn in members
                and not (isinstance(mn, float) or isinstance(mx, float))
            ):
                return False
            continue
        if op == "notlike":
            # VERDICT r15 next #3: keep every file UNLESS the zone map
            # proves ALL rows match the positive pattern — possible
            # only for a pure prefix pattern 'pre%' with the file's
            # whole [min, max] inside [pre, upper(pre)) (then every
            # non-null value starts with pre and NOT LIKE matches no
            # row; nulls never match a null-rejecting predicate).
            # Everything else scans honestly, never a wrong prune.
            pre = _like_prefix(val)
            if (
                pre
                and str(val) == pre + "%"
                and isinstance(mn, str)
                and isinstance(mx, str)
                and mn >= pre
            ):
                up = _like_prefix_upper(pre)
                if up is not None and mx < up:
                    return False
            continue
        if op == "in":
            # prune only when EVERY non-null set member provably
            # misses (None members are inert for a positive IN — a
            # row can never become TRUE through NULL, so the non-null
            # subset decides exactly); any non-comparable member
            # keeps the file
            proven_empty = True
            for v0 in val:
                if v0 is None:
                    continue
                v = _normalize_bound(v0)
                if v is None or not _stat_comparable(mn, v) or mn <= v <= mx:
                    proven_empty = False
                    break
            if proven_empty and len(val) > 0:
                return False
            continue
        if op == "between":
            lo, hi = _normalize_bound(val[0]), _normalize_bound(val[1])
            # every pair that gets compared must be comparable (same
            # numeric kind, or strings of the same temporal shape) —
            # a mixed (lo, hi) bound pair or mixed-granularity stats
            # fall back to keeping the file, never a TypeError
            if (
                lo is None
                or hi is None
                or not _stat_comparable(lo, hi)
                or not _stat_comparable(mn, lo)
                or not _stat_comparable(mx, hi)
            ):
                continue
            if mx < lo or mn > hi:
                return False
            continue
        if op == "like":
            # PREFIX patterns are zone-map friendly (VERDICT r14 next
            # #4): every match s of 'ab%…' satisfies 'ab' <= s < 'ac',
            # so a file whose max < 'ab' or whose min >= 'ac' is
            # provably empty. Non-prefix patterns ('%x', '_x…') have
            # no bound — the file is kept and the row filter decides
            # (an honest full scan, never a wrong prune). LIKE is
            # null-rejecting, so min/max (null-free) bounds are sound.
            pre = _like_prefix(val)
            if not pre or not isinstance(mn, str) or not isinstance(mx, str):
                continue
            if mx < pre:
                return False
            up = _like_prefix_upper(pre)
            if up is not None and mn >= up:
                return False
            continue
        v = _normalize_bound(val)
        if v is None or not _stat_comparable(mn, v):
            continue
        # FLOAT-statted columns: parquet min/max IGNORE NaN, and under
        # Spark semantics NaN sorts ABOVE every value and equals NaN —
        # so the recorded MAX cannot disprove predicates whose
        # acceptance region contains NaN ('>', '>=', '!='): a file
        # holding [5.0, NaN] reports max=5.0 yet its NaN row matches
        # k > 100. Ops whose acceptance region EXCLUDES NaN
        # ('==', '<', '<=', 'between', 'in') still prune soundly.
        nan_possible = isinstance(mn, float) or isinstance(mx, float)
        if op == "==" and (v < mn or v > mx):
            return False
        if op == "!=" and mn == mx == v and not nan_possible:
            return False  # single-valued file: every row equals v
        if op == ">=" and mx < v and not nan_possible:
            return False
        if op == ">" and mx <= v and not nan_possible:
            return False
        if op == "<=" and mn > v:
            return False
        if op == "<" and mn >= v:
            return False
    return True


def _like_prefix(pattern) -> str:
    """The literal prefix of a LIKE pattern: chars before the first
    wildcard (``%``/``_``) or escape (``\\`` — conservative: the
    escaped char is literal, but stopping there only costs pruning
    power, never correctness)."""
    out = []
    for ch in str(pattern):
        if ch in ("%", "_", "\\"):
            break
        out.append(ch)
    return "".join(out)


def _like_prefix_upper(prefix: str) -> str | None:
    """The exclusive upper bound of the prefix range: the prefix with
    its last incrementable codepoint bumped (and the tail truncated).
    ``None`` when every char is U+10FFFF — then only the lower bound
    prunes."""
    for i in range(len(prefix) - 1, -1, -1):
        o = ord(prefix[i])
        if o < 0x10FFFF:
            return prefix[:i] + chr(o + 1)
    return None


def _file_all_match(stats: dict[str, list] | None, where) -> bool:
    """True only when the zone maps PROVE every row of the file
    matches the predicate — the drop-without-rewrite fast path for
    ``delete_where`` (Delta's file-level delete). For an OR form it
    suffices that ONE disjunct provably matches every row (sound:
    the disjunction is then true everywhere; other disjuncts may
    match more files on their own). Within a conjunction the proof
    needs (a) bounds fully inside the predicate's accepting range AND
    (b) a recorded zero null count for the column (min/max exclude
    nulls, and a null row does NOT match a null-rejecting predicate,
    so it must be KEPT — dropping the file would delete it). Anything
    unknown — missing stats, missing null counts, shape mismatch —
    returns False (rewrite instead: never wrong, only slower)."""
    return any(
        _conj_all_match(stats, d) for d in _where_disjuncts(where)
    )


def _conj_all_match(stats: dict[str, list] | None, where) -> bool:
    if not stats:
        return False
    nulls = stats.get("__nulls__") or {}
    for col, op, val in where:
        if op == "notnull":
            # a recorded zero null count proves every row matches
            if nulls.get(col) != 0:
                return False
            continue
        if op == "isnull":
            # proving ALL rows null needs a per-file row count the
            # stats don't carry — rewrite instead (never wrong)
            return False
        if op not in ("==", "!=", ">=", ">", "<=", "<", "between", "in"):
            return False
        s = stats.get(col)
        if not s or col in ("__bloom__", "__nulls__"):
            return False
        if nulls.get(col) != 0:
            return False  # unknown or nonzero null count
        mn, mx = s
        if isinstance(mn, float) or isinstance(mx, float):
            # float-statted column: parquet min/max IGNORE NaN (a file
            # holding [5.0, NaN, 5.0] reports min=max=5.0, null_count
            # 0), so the bounds can never PROVE every row matches — a
            # NaN row matches no ordinary predicate under Spark
            # semantics (NaN == only NaN, sorts above all values) and
            # must be KEPT. Iceberg guards this exact case with
            # nan_value_counts; parquet footers carry none, so the
            # fast path is restricted to int/string/temporal-statted
            # columns (ADVICE r8, high).
            return False
        if op == "in":
            members = [_normalize_bound(v) for v in val]
            if not members or any(
                v is None or not _stat_comparable(mn, v) for v in members
            ):
                return False
            if not (mn == mx and mn in members):
                return False
            continue
        if op == "between":
            lo, hi = _normalize_bound(val[0]), _normalize_bound(val[1])
            if (
                lo is None
                or hi is None
                or not _stat_comparable(lo, hi)
                or not _stat_comparable(mn, lo)
                or not _stat_comparable(mx, hi)
            ):
                return False
            if not (lo <= mn and mx <= hi):
                return False
            continue
        v = _normalize_bound(val)
        if v is None or not _stat_comparable(mn, v):
            return False
        if op == "==" and not (mn == mx == v):
            return False
        if op == "!=" and not (v < mn or v > mx):
            return False
        if op == ">=" and not mn >= v:
            return False
        if op == ">" and not mn > v:
            return False
        if op == "<=" and not mx <= v:
            return False
        if op == "<" and not mx < v:
            return False
    return True


# -- table constraints --------------------------------------------------------
# NOT NULL / CHECK in the Delta-invariant shape: declared once per
# table (store-root blob, versioned through the commit backend),
# enforced on every VALUE-BEARING write path before its manifest swap.
# Enforcement is FOOTER-FIRST — the same zone maps the write already
# harvests prove most new files clean without reading a data page —
# and only footer-inconclusive files pay a scan of the constrained
# columns. The reference leans on its RDBMS DDL for exactly this
# (scdb.py's NOT NULL key columns); a lake-format store must enforce
# it itself or ingest quietly poisons every downstream query.


def _neg_probes(pred):
    """Zone-map probes for a CHECK predicate's NEGATION: the file is
    provably violation-free iff ``_file_may_match`` prunes EVERY probe
    (no non-null row can falsify the predicate, and null rows pass a
    CHECK by SQL's not-FALSE rule; NaN soundness is _file_may_match's
    existing nan_possible guard). ``None`` = not negatable by zone
    maps (multi-member ``in``) — the caller scans."""
    c, op, v = pred
    flip = {"==": "!=", "!=": "==", ">=": "<", ">": "<=", "<=": ">", "<": ">="}
    if op in flip:
        return [(c, flip[op], v)]
    if op == "between":
        return [(c, "<", v[0]), (c, ">", v[1])]
    if op == "in" and len(v) == 1:
        return [(c, "!=", next(iter(v)))]
    return None


def _pa_pred_mask(tbl, names: set, pred, phys):
    """One CHECK predicate evaluated over a pyarrow table with SPARK
    SQL semantics: nulls propagate (3VL), and on float columns NaN
    sorts ABOVE every value and equals NaN — pyarrow's IEEE kernels
    call every NaN comparison false, so NaN rows are patched to
    Spark's answer ('>', '>=', '!=' accept; the rest reject)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    c, op, v = pred
    p = phys(c)
    if p not in names:
        return pa.nulls(tbl.num_rows, pa.bool_())  # absent = all-null column
    col = tbl[p]
    if op == "==":
        res = pc.equal(col, v)
    elif op == "!=":
        res = pc.not_equal(col, v)
    elif op == ">=":
        res = pc.greater_equal(col, v)
    elif op == ">":
        res = pc.greater(col, v)
    elif op == "<=":
        res = pc.less_equal(col, v)
    elif op == "<":
        res = pc.less(col, v)
    elif op == "between":
        res = pc.and_kleene(
            pc.greater_equal(col, v[0]), pc.less_equal(col, v[1])
        )
    elif op == "in":
        res = pc.is_in(col, value_set=pa.array(list(v)))
    else:  # pragma: no cover - add_constraint whitelists ops
        raise ValueError(f"unsupported constraint op {op!r}")
    if pa.types.is_floating(col.type):
        nan = pc.fill_null(pc.is_nan(col), False)
        res = pc.if_else(nan, pa.scalar(op in (">", ">=", "!=")), res)
    return res


def _pa_file_violates(path: Path, spec: dict, phys) -> bool:
    """Spark-free scan fallback for one footer-inconclusive file: read
    ONLY the constrained columns via pyarrow and test for a violating
    row. Used where no SparkSession exists (the streaming sink's
    commit worker); sessions take the Spark scan path instead."""
    import functools

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(str(path))
    names = set(pf.schema_arrow.names)
    if spec["kind"] == "not_null":
        needed = [phys(c) for c in spec["cols"]]
        if any(p not in names for p in needed):
            return True  # absent column = every row null
        tbl = pf.read(columns=needed)
        return any(tbl[p].null_count > 0 for p in needed)
    cols = [phys(c) for c, _, _ in spec["preds"] if phys(c) in names]
    tbl = pf.read(columns=sorted(set(cols)))
    masks = [_pa_pred_mask(tbl, names, tuple(p), phys) for p in spec["preds"]]
    acc = functools.reduce(pc.and_kleene, masks)
    # violation iff the ANDed check is FALSE (null passes — SQL's rule)
    return bool(pc.any(pc.invert(pc.fill_null(acc, True))).as_py())


# -- per-file bloom filters --------------------------------------------------
# Zone maps cannot prune point predicates on HASH-KEYED columns: a
# file's [min, max] over e.g. IndicatorValueId spans nearly the whole
# key space unless the layout was re-clustered (compact(sort_by=...)).
# For declared key columns the manifest therefore also carries a small
# per-file BLOOM filter harvested at commit: an `==` predicate whose
# value the bloom PROVABLY excludes drops the file; a bloom hit (or
# absent bloom) keeps it — false positives cost a read, never a wrong
# result, and the re-applied row filter stays authoritative. This is
# the same design as parquet's own column bloom filters / Delta's
# deletion-vector-adjacent file skipping indexes, held in the manifest
# so the check needs no file I/O at listing time.

BLOOM_K = 7              # hash functions (~1% FPR at 10 bits/key)
BLOOM_MAX_BITS = 1 << 20  # 128 KiB per column per file, tops


def _bloom_shape(v) -> str | None:
    """Value-shape class a bloom key belongs to. Blooms only prune
    when the PROBE value's shape matches the STORED column's shape
    (recorded at build time) — the bloom-side mirror of
    ``_stat_comparable``'s keep-on-mismatch rule. Without it, a
    NUMERIC probe against a STRING column holding non-canonical
    numeric text ('05', ' 5') hashes to a different key than the
    stored value and wrongly prunes a file whose rows Spark's
    re-applied cast filter (string→number) would match. 'date' and
    'datetime' are mutually compatible: equality probes expand across
    the granularities (see ``_bloom_probe_keys``), so the cast
    semantics stay covered."""
    import datetime

    if isinstance(v, (bool, int, float)):
        return "num"
    if isinstance(v, datetime.datetime):  # before date: datetime IS a date
        return "datetime"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (str, bytes)):
        return "str"
    return None


def _bloom_shapes_compatible(probe: str | None, stored: str | None) -> bool:
    """None on either side (exotic probe type, or a LEGACY bloom
    written before shapes were recorded) means unknown — keep the
    file, never prune on it."""
    if probe is None or stored is None:
        return False
    return probe == stored or {probe, stored} <= {"date", "datetime"}


def _bloom_key(v) -> str | None:
    """Canonical hash key for a value: integral floats collapse onto
    ints (Spark's numeric equality crosses int/long/double), temporal
    values use the same ISO forms as the zone maps. None = value can't
    participate (bloom for that column is skipped)."""
    import datetime

    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return str(int(v)) if v.is_integer() else repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        n = _norm_stat(v)
        return n if isinstance(n, str) else None
    return None


def _bloom_hash128(key: str) -> tuple[int, int]:
    """The two 64-bit double-hashing bases for a key — md5-derived
    (stable across processes, no PYTHONHASHSEED dependence) and
    LRU-cached: a point-SET predicate probes the same members against
    every candidate file's bloom, so each member pays its digest once
    per listing, not once per file."""
    import hashlib

    d = hashlib.md5(key.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


import functools as _functools

_bloom_hash128 = _functools.lru_cache(maxsize=65536)(_bloom_hash128)


def _bloom_positions(key: str, k: int, m: int):
    h1, h2 = _bloom_hash128(key)
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_decode(bloom: dict) -> tuple[bytes, int, int] | None:
    """Decoded (bits, m, k), or None for an unusable body (treat as
    'keep the file'). Callers decode ONCE per file and then test every
    probe value against the shared bit array — the base64 body can be
    128 KiB, so per-member decoding would dominate driver-side listing
    for large ``in`` sets. The decode itself is LRU-memoized on the
    base64 text: with manifests cached by the commit backend, a hot
    point-read loop re-probes the SAME string objects every query
    (str hashes cache after first use), so repeat decodes cost a dict
    hit instead of a 128 KiB b64 pass per file per query."""
    try:
        b64 = bloom["b64"]
        m, k = int(bloom["m"]), int(bloom["k"])
    except Exception:
        return None
    return _bloom_decode_b64(b64, m, k)


#: Byte-bounded decode memo (NOT an entry-count lru: a bloom body can
#: be 128 KiB, so 8192 count-bounded entries could pin ~GiB of driver
#: RSS — review r10). Keys are the b64 strings themselves: with
#: manifests cached by the commit backend these are REFERENCES to
#: already-alive objects, so the cache's own footprint is the decoded
#: bytes, capped below. Cleared wholesale on overflow (cheap; refill
#: is one decode per live file).
_BLOOM_DECODE_CACHE: dict = {}
_BLOOM_DECODE_CACHE_MAX_BYTES = 128 << 20
_BLOOM_DECODE_CACHE_BYTES = [0]
_BLOOM_DECODE_LOCK = __import__("threading").Lock()


def _bloom_decode_b64(b64: str, m: int, k: int) -> tuple[bytes, int, int] | None:
    import base64

    key = (b64, m, k)
    hit = _BLOOM_DECODE_CACHE.get(key)
    if hit is not None:
        return hit[0]  # (value,) wrapper so a cached None is a hit too
    try:
        bits = base64.b64decode(b64)
    except Exception:
        bits = None
    out = None if bits is None or m <= 0 or len(bits) * 8 < m else (bits, m, k)
    # size accounting counts the KEY STRING too: a failed decode still
    # pins its (possibly 100 KiB+) b64 key, so corrupt-entry floods
    # must also trip the cap; the under-lock re-check prevents a racing
    # duplicate insert from double-counting (review r10 wave 2)
    size = len(b64) + (len(bits) if bits is not None else 0)
    with _BLOOM_DECODE_LOCK:
        if key not in _BLOOM_DECODE_CACHE:
            if _BLOOM_DECODE_CACHE_BYTES[0] + size > _BLOOM_DECODE_CACHE_MAX_BYTES:
                _BLOOM_DECODE_CACHE.clear()
                _BLOOM_DECODE_CACHE_BYTES[0] = 0
            _BLOOM_DECODE_CACHE[key] = (out,)
            _BLOOM_DECODE_CACHE_BYTES[0] += size
    return out


def _bloom_probe_keys(val) -> list[str]:
    """Candidate hash keys for a PREDICATE value. Temporal values get
    BOTH granularities — a `date` probe also tests its midnight
    timestamp key and a naive-midnight `datetime` also tests its date
    key — because the stored keys' shape follows the COLUMN type
    (date column -> 'YYYY-MM-DD', timestamp column ->
    'YYYY-MM-DDT00:00:00') while Spark's re-applied filter casts
    across (date literal == midnight instant). Testing both keeps the
    file whenever the cast semantics could match a row; files with no
    matching instant under either shape still prune (sound — the same
    mixed-granularity hazard the zone maps handle by shape, solved
    here by probe expansion since equality admits it). Tz-AWARE
    probes normalize to naive UTC FIRST (the same rule as
    ``_norm_stat`` — the session timezone is pinned UTC), so a
    UTC-midnight aware instant gets the same date-granularity
    expansion a naive midnight does."""
    import datetime

    if isinstance(val, datetime.datetime) and val.tzinfo is not None:
        val = val.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    key = _bloom_key(val)
    if key is None:
        return []
    keys = [key]
    if isinstance(val, datetime.datetime):
        if val.time() == datetime.time(0):
            keys.append(val.date().isoformat())
    elif isinstance(val, datetime.date):
        keys.append(val.isoformat() + "T00:00:00")
    return keys


def _bloom_test(bits: bytes, m: int, k: int, val, shape: str | None = None) -> bool:
    if not _bloom_shapes_compatible(_bloom_shape(val), shape):
        return True  # shape mismatch or legacy bloom: keep the file
    keys = _bloom_probe_keys(val)
    if not keys:
        return True
    return any(
        all(
            bits[pos >> 3] & (1 << (pos & 7))
            for pos in _bloom_positions(key, k, m)
        )
        for key in keys
    )


def _build_blooms(path: Path, cols: list[str], max_bits: int = BLOOM_MAX_BITS) -> dict:
    """Per-column bloom over one parquet file's distinct values — one
    column-projected read per declared key column at commit time (the
    price of point-lookup skipping forever after). A column whose
    distinct count would push past ``max_bits`` at ~10 bits/key is
    skipped (absent bloom -> file always kept: conservative)."""
    import base64

    try:
        import pyarrow.parquet as pq

        schema_names = set(pq.ParquetFile(str(path)).schema_arrow.names)
        want = [c for c in cols if c in schema_names]
        if not want:
            return {}
        table = pq.read_table(str(path), columns=want)
    except Exception:
        return {}
    out: dict[str, dict] = {}
    cap = max_bits // 10  # ~10 bits/key
    for c in want:
        keys: set[str] | None = set()
        shape: str | None = None
        for v in table.column(c).to_pylist():
            if v is None:
                continue
            s = _bloom_shape(v)
            if s is None or (shape is not None and s != shape):
                # unshapeable or mixed-shape column: no sound probe
                # rule exists — skip the bloom (file always kept)
                keys = None
                break
            shape = s
            kk = _bloom_key(v)
            if kk is None:
                keys = None
                break
            keys.add(kk)
            if len(keys) > cap:
                # too many distinct values: bail INSIDE the sweep so a
                # 10M-distinct id column never materializes its whole
                # key set on the driver just to be thrown away
                keys = None
                break
        if not keys:  # unhashable type, all-null, or over-cardinality
            continue
        m = max(64, 1 << (len(keys) * 10 - 1).bit_length())
        m = min(m, max_bits)
        bits = bytearray(m // 8)
        for kk in keys:
            for pos in _bloom_positions(kk, BLOOM_K, m):
                bits[pos >> 3] |= 1 << (pos & 7)
        out[c] = {
            "m": m,
            "k": BLOOM_K,
            "b64": base64.b64encode(bytes(bits)).decode("ascii"),
            "shape": shape,
        }
    return out


def _bloom_may_contain(bloom: dict, val) -> bool:
    """False only when every hash position is clear — a PROOF the
    value was absent from the file at commit. Unknown/undecodable
    values, and probes whose value shape doesn't match the stored
    column's, keep the file."""
    decoded = _bloom_decode(bloom)
    if decoded is None:
        return True
    return _bloom_test(*decoded, val, bloom.get("shape"))


# -- deletion vectors (merge-on-read DML) -----------------------------------
# A scattered small delete whose keys touch every file used to pay a
# copy-on-write rewrite of every file. A DELETION VECTOR instead
# records the DELETED ROW POSITIONS of one data file in a tiny
# immutable sidecar (`dv-<uuid>.bin`), referenced from the manifest as
# ``{"dv": {file_name: {"sidecar": name, "count": n}}}``; reads drop
# exactly those positions via Spark's ``_metadata.row_index`` file
# metadata column (the same mechanism Delta's DV reads use), compact
# materializes them away, and the change feed emits position-sliced
# deltas. Sidecars are immutable: growing a file's DV writes a NEW
# sidecar holding the union and the manifest swap repoints — the old
# one becomes superseded history, GC'd by vacuum under the same
# retention contract as data files. At 100 TB this is the difference
# between a small scattered delete costing kilobytes of sidecar and
# rewriting the table (VERDICT r8 directive #1; reference analog: the
# IN-subquery deletes, scdb.py:38–49).

DV_MAGIC = b"SGDV1\n"


def _encode_dv(positions) -> bytes:
    """Sorted-unique uint64 row positions, little-endian, behind a
    magic header — ~8 bytes per deleted row. (A roaring bitmap would
    compress dense runs better; dense deletes take the rewrite path
    anyway — see DV_MAX_FRACTION — so the flat array stays small by
    construction.)"""
    import numpy as np

    arr = np.array(sorted({int(p) for p in positions}), dtype="<u8")
    return DV_MAGIC + arr.tobytes()


def _decode_dv(data: bytes):
    import numpy as np

    if not data.startswith(DV_MAGIC) or (len(data) - len(DV_MAGIC)) % 8:
        raise ValueError("corrupt deletion-vector sidecar")
    return np.frombuffer(data[len(DV_MAGIC):], dtype="<u8")


def _sql_str(v: str) -> str:
    """``v`` as a Spark SQL string literal (backslash escapes, the
    parser's default string grammar)."""
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


# -- column mapping (rename / drop schema evolution) -------------------------
# A column's PHYSICAL name — what the parquet files carry — is fixed
# at first write and never changes; RENAME and DROP are metadata-only
# manifest updates (Delta's column-mapping design). The manifest's
# declared schema holds the LOGICAL names users see, plus
# ``colmap: {logical: physical}`` for every non-identity mapping and
# ``dropped_physical: [...]`` for physical names retired by a drop
# (a re-added same-name logical column must get a FRESH physical name
# — resolving it to the dropped files' old bytes would resurrect
# unrelated data under a new meaning). Reads scan under the PHYSICAL
# schema and rename to logical; writes translate logical → physical;
# old snapshots read_at with the names THEY declared (each journal
# body carries its own schema + colmap). Zone maps, blooms, and stats
# are keyed by physical name throughout — predicates translate at the
# pruning boundary.


def _to_physical_schema(schema, colmap: dict):
    from pyspark.sql import types as T

    if not colmap:
        return schema
    phys = [colmap.get(f.name, f.name) for f in schema.fields]
    if len(set(phys)) != len(phys):
        # the loud torn-rename detector: a rename that crashed between
        # partitions leaves one partition's schema holding the OLD name
        # while another's colmap maps the NEW name onto the same
        # physical column — the merged logical schema then maps two
        # fields onto one physical name. Without this check the scan
        # dies in an opaque duplicate-column AnalysisException (or
        # worse, silently misreads); re-running the rename converges
        # (done partitions no-op, missed ones apply).
        dupes = sorted({n for n in phys if phys.count(n) > 1})
        raise ValueError(
            f"column mapping resolves two logical columns onto the same "
            f"physical name(s) {dupes} — torn rename_column across "
            "partitions; re-run the rename to converge"
        )
    return T.StructType(
        [
            T.StructField(p, f.dataType, f.nullable)
            for p, f in zip(phys, schema.fields)
        ]
    )


def _rename_all(df: DataFrame, mapping: dict) -> DataFrame:
    """Rename via ONE simultaneous projection. ``withColumnsRenamed``
    validates each target against the current frame, so a chain like
    {k: v, v: v2} trips COLUMN_ALREADY_EXISTS on the transient
    collision even though the end state is unambiguous — a single
    select of aliases has no intermediate states."""
    if not any(c in mapping for c in df.columns):
        return df
    return df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
    )


def _rename_to_logical(df: DataFrame, colmap: dict) -> DataFrame:
    return _rename_all(df, {v: k for k, v in colmap.items() if v != k})


def _rename_to_physical(df: DataFrame, colmap: dict) -> DataFrame:
    return _rename_all(df, {k: v for k, v in colmap.items() if v != k})


def _where_physical(where, colmap: dict):
    """Translate a predicate's LOGICAL column names to the physical
    names the manifest stats/blooms are keyed by (OR forms translate
    per disjunct, structure preserved)."""
    if not where or not colmap:
        return where
    ds = [
        [(colmap.get(c, c), op, v) for c, op, v in d]
        for d in _where_disjuncts(where)
    ]
    if len(ds) == 1:
        return ds[0]
    out: list = []
    for i, d in enumerate(ds):
        if i:
            out.append("or")
        out.append(d)
    return out


def _fresh_physical(logical: str, taken) -> str:
    """Physical name for a NEW logical column whose name collides with
    a retired physical name (re-add after drop): suffixed with a
    uuid fragment so old files' bytes can never resolve to it."""
    import uuid

    cand = f"{logical}__r{uuid.uuid4().hex[:8]}"
    while cand in taken:
        cand = f"{logical}__r{uuid.uuid4().hex[:8]}"
    return cand


def _union_colmap(manifests, ctx: str) -> tuple[dict, set]:
    """Union (colmap, dropped_physical) across manifest bodies; a
    VALUE conflict for one logical name is a genuine divergence and
    fails loudly (the missing-mapping tear is caught downstream by
    ``_to_physical_schema``'s duplicate-physical check)."""
    colmap: dict = {}
    dropped: set = set()
    for m in manifests:
        if not m:
            continue
        for k, v in (m.get("colmap") or {}).items():
            if colmap.get(k, v) != v:
                raise ValueError(
                    f"inconsistent column mapping across partitions of "
                    f"{ctx}: {k!r} -> {colmap[k]!r} vs {v!r} "
                    "(torn rename — re-run rename_column to converge)"
                )
            colmap[k] = v
        dropped |= set(m.get("dropped_physical") or [])
    return colmap, dropped


def _translate_payload(df: DataFrame, colmap: dict, dropped: set):
    """The ONE write-side mapping rule, shared by every writer
    (append, epoch append, merge, replace): the frame arrives with
    LOGICAL names; files are written under PHYSICAL names. A new
    logical column whose name collides with a RETIRED physical name
    (re-add after drop — possibly with a different type) or with
    another column's physical name (append of 'a' after rename a->b)
    gets a fresh physical name, so old files' bytes can never resolve
    to the new column. Returns ``(translated_df, colmap)`` where the
    colmap includes any fresh assignments; identity when the table
    has no mapping."""
    colmap = dict(colmap)
    if not colmap and not dropped:
        return df, colmap
    payload_fields = [f for f in df.schema.fields if f.name != PARTITION_COL]
    taken = set(colmap.values()) | set(dropped) | {f.name for f in payload_fields}
    for f in payload_fields:
        if f.name not in colmap and (
            f.name in dropped or f.name in set(colmap.values())
        ):
            fresh = _fresh_physical(f.name, taken)
            taken.add(fresh)
            colmap[f.name] = fresh
    return _rename_to_physical(df, colmap), colmap


#: Safe type promotions for schema evolution (VERDICT r10 directive
#: #5 — the reference's widening cast chain, dfhandler.py:419, 684):
#: (narrow, wide) pairs where every narrow value is EXACTLY
#: representable in the wide type AND Spark's parquet readers upcast
#: the narrow physical encoding under a wide declared schema natively
#: (verified on int32→int64 and float→double: the declared-union-
#: schema read path needs no per-era split scan). Anything not in the
#: lattice still raises — silent lossy coercion would corrupt the
#: zone maps and the readback.
_TYPE_WIDENING = {
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("short", "integer"),
    ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    # integer→double is exact (|int32| < 2^53) and the parquet readers
    # upcast it natively (verified); LONG→double stays EXCLUDED — it
    # loses precision past 2^53 — as does byte/short→float (reader
    # unsupported and float only holds 24 bits exactly)
    ("byte", "double"),
    ("short", "double"),
    ("integer", "double"),
}


def _wider_type(a, b):
    """The wider of two types under the safe-promotion lattice, or
    None when they are incomparable (a genuine conflict)."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if (an, bn) in _TYPE_WIDENING:
        return b
    if (bn, an) in _TYPE_WIDENING:
        return a
    return None


def _merge_schemas(a, b):
    """Union of two payload schemas for schema evolution: fields by
    name, ``a``'s order first, new fields appended; same-name fields
    must agree on type OR be related by a safe WIDENING (int→long,
    float→double — the declared type becomes the wider one; files
    written with the narrow physical type upcast at scan time, old
    snapshots keep their era's declared type through read_at).
    Nullability is coerced to nullable — evolved columns are null for
    pre-evolution files. An incomparable type conflict raises: silent
    coercion would corrupt the zone maps and the readback."""
    from pyspark.sql import types as T

    by_name = {f.name: i for i, f in enumerate(a.fields)}
    out = [T.StructField(f.name, f.dataType, True) for f in a.fields]
    for f in b.fields:
        i = by_name.get(f.name)
        if i is None:
            by_name[f.name] = len(out)
            out.append(T.StructField(f.name, f.dataType, True))
        elif out[i].dataType != f.dataType:
            w = _wider_type(out[i].dataType, f.dataType)
            if w is None:
                raise ValueError(
                    f"schema evolution type conflict on {f.name!r}: "
                    f"{out[i].dataType.simpleString()} vs "
                    f"{f.dataType.simpleString()}"
                )
            out[i] = T.StructField(f.name, w, True)
    return T.StructType(out)


@_functools.lru_cache(maxsize=4096)
def _schema_from_json(schema_json: str):
    """StructTypes are treated as immutable everywhere in this module
    (every evolution builds a new one via _merge_schemas), so decoding
    a manifest's declared-schema JSON memoizes safely — a per-query
    serving loop re-decodes the same string every read otherwise."""
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(schema_json))


def _check_dml_where(where, op: str) -> None:
    """``None`` is the deliberate every-row spelling (a bare ``DELETE
    FROM`` / ``UPDATE``); an EMPTY LIST is almost always a filtering
    bug (``[p for p in preds if ...]`` that matched nothing) and must
    not silently become a whole-table mutation (review r10 wave 3)."""
    if where is not None and len(where) == 0:
        raise ValueError(
            f"{op}: empty predicate list — pass None explicitly to touch "
            "every row, or a non-empty list of (col, op, value) tuples"
        )
    if where is not None:
        _where_disjuncts(list(where))  # shape validation, refuses loudly


def _where_expr(where):
    """The predicate as a Spark Column — conjunctions AND, disjunct
    lists OR (``_where_disjuncts``'s grammar) — applied to the pruned
    frame so results never depend on stats quality."""
    import functools

    conjs = [_conj_expr(d) for d in _where_disjuncts(where)]
    return functools.reduce(lambda a, b: a | b, conjs)


def _conj_expr(where):
    import functools

    exprs = []
    for col, op, val in where:
        c = F.col(col)
        if op == "==":
            exprs.append(c == val)
        elif op == "!=":
            exprs.append(c != val)
        elif op == ">=":
            exprs.append(c >= val)
        elif op == ">":
            exprs.append(c > val)
        elif op == "<=":
            exprs.append(c <= val)
        elif op == "<":
            exprs.append(c < val)
        elif op == "between":
            exprs.append(c.between(val[0], val[1]))
        elif op == "in":
            # None members are inert for a positive IN (3VL: the row
            # can never become TRUE through NULL) — they exist in the
            # list only so a later negation to notin sees them
            exprs.append(c.isin([v for v in val if v is not None]))
        elif op == "notin":
            if len(val) > 0 and any(v is None for v in val):
                # a NULL member makes NOT IN never-true (3VL)
                exprs.append(F.lit(False))
            else:
                exprs.append(~c.isin(list(val)))
        elif op == "like":
            exprs.append(c.like(str(val)))
        elif op == "notlike":
            exprs.append(~c.like(str(val)))
        elif op == "isnull":
            exprs.append(c.isNull())
        elif op == "notnull":
            exprs.append(c.isNotNull())
        else:
            raise ValueError(f"unsupported predicate op {op!r}")
    return functools.reduce(lambda a, b: a & b, exprs)

ZORDER_BITS = 16  # per-dimension resolution of the interleaved key


def _zorder_key(df: DataFrame, cols: list[str]) -> "F.Column":
    """Interleaved-bit (Morton / Z-order) clustering key over 2+
    numeric/date/timestamp columns — the OPTIMIZE ZORDER analog. Each
    column is affinely scaled to a 16-bit integer against its [min,
    max] over the frame (one tiny agg — the frame is one partition
    being rewritten anyway), then the bits interleave column-major:
    bit b of column i lands at position ``b*len(cols) + i``. Rows close
    in EVERY dimension get close z-values, so a range-clustered rewrite
    on the z-key keeps the per-file zone maps tight on ALL the columns
    at once — a two-predicate web read (RefDate AND GeographicLevelId)
    then prunes on both, where a single-column sort serves only one.

    Entirely JVM-side expressions (shifts/ands/ors fold into
    whole-stage codegen); nulls sort lowest (scaled to 0). String
    columns are rejected: hashing them would destroy the locality that
    is the whole point — cluster on their dictionary ids upstream
    instead.

    Per-dimension resolution adapts to the column count —
    ``min(ZORDER_BITS, 63 // k)`` bits each — so every interleaved bit
    position stays inside a bigint's 63 value bits: a fixed 16 bits
    would push column 4's top bit into the SIGN bit (inverting the
    range-clustering on exactly the hottest values) and wrap shifts
    ≥64 entirely at 5+ columns. All column ranges come from ONE
    combined aggregate (a single scan, not one per column)."""
    k = len(cols)
    bits = min(ZORDER_BITS, 63 // k)
    top = (1 << bits) - 1
    by_name = dict(df.dtypes)
    exprs = []
    for c in cols:
        dt = by_name.get(c)
        if dt is None:
            raise ValueError(f"z-order column {c!r} not in frame")
        if dt in ("date",) or dt.startswith("timestamp"):
            exprs.append(F.col(c).cast("timestamp").cast("double"))
        elif dt in ("string", "binary", "boolean") or dt.startswith(("array", "map", "struct", "decimal")):
            raise ValueError(
                f"z-order column {c!r} has unsupported type {dt} "
                "(numeric/date/timestamp only)"
            )
        else:
            exprs.append(F.col(c).cast("double"))
    row = df.agg(
        *[a for i, e in enumerate(exprs)
          for a in (F.min(e).alias(f"mn{i}"), F.max(e).alias(f"mx{i}"))]
    ).first()
    scaled = []
    for i, expr in enumerate(exprs):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        if mn is None or mx is None or mx <= mn:
            scaled.append(F.lit(0).cast("bigint"))
            continue
        scaled.append(
            F.coalesce(
                ((expr - F.lit(float(mn))) / F.lit(float(mx - mn)) * top)
                .cast("bigint"),
                F.lit(0),
            )
        )
    z = F.lit(0).cast("bigint")
    for i, s in enumerate(scaled):
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * k + i)
            )
    return z


# Tables partitioned by product (replace unit). Lookup tables
# (GeographyReference, GeographicLevel, NullReason) are unpartitioned.
PRODUCT_TABLES = [
    "IndicatorTheme",
    "Dimensions",
    "DimensionValues",
    "Indicators",
    "IndicatorValues",
    "GeographyReferenceForIndicator",
    "GeographicLevelForIndicator",
    "IndicatorMetaData",
    "RelatedCharts",
]
PARTITION_COL = "IndicatorThemeId"


class TableStore:
    """``backend`` selects the commit service (see ``commit.py``):
    ``"localfs"`` (default — flock + atomic rename, the POSIX fast
    path) or ``"cas"`` (object-store model — versioned put-if-absent
    manifests, lock-free optimistic writers, the 100 TB deployment
    shape). Every guarantee (snapshot isolation, crash roll-forward/
    back, exactly-once epochs) holds on both; the protocol code is
    shared and written as read-version → compute → conditional-write →
    retry-on-conflict."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        backend: str | CommitBackend = "localfs",
        bloom_cols: dict[str, list[str]] | None = None,
    ):
        """``bloom_cols`` maps table name -> key columns to bloom-index
        per file at commit (e.g. ``{"IndicatorValues":
        ["IndicatorValueId"]}``): point (``==``) reads on those columns
        then skip files the bloom provably excludes — the lever zone
        maps don't have on hash-keyed ids over an UNsorted layout."""
        self.spark = spark
        self.root = root
        self._backend = make_backend(backend)
        self.bloom_cols = dict(bloom_cols or {})
        #: post-commit observers (on_commit): fired AFTER a write
        #: publishes, per mutated table — never before, never on abort
        self._commit_hooks: list = []
        # per-thread sink for the hooks pooled work fires (_pool_map)
        self._pooled_hooks = threading.local()
        # fail fast on a backend/layout mismatch BEFORE recover() can
        # act on (or miss) the other layout's control blobs
        self._verify_format_tag()
        # dynamic mode: overwrite only the partitions present in the
        # incoming frame — this IS the product-replace primitive
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # never write INT96 timestamps: they carry no parquet min/max
        # stats, which would blind the manifest zone maps (and Spark's
        # own row-group skipping) for every timestamp column
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # roll forward / roll back any replace_product_all transaction
        # a previous process died inside — readers through a fresh
        # store handle always see a consistent all-old or all-new state
        self.recover()

    def _path(self, table: str) -> str:
        return f"{self.root}/{table}"

    def sql(self, statement: str):
        """The one-stop SQL surface (VERDICT r12 missing #2):
        ``DELETE FROM`` / ``UPDATE ... SET`` with store-grammar
        predicates route onto ``delete_where``/``update_where``
        (returns the affected-row count); ``SELECT``/``WITH``/
        ``INSERT INTO`` run as FULL Spark SQL over the store tables
        the statement names, auto-registered through the pruned
        catalog path (returns the DataFrame); ``MERGE`` and
        unparseable forms refuse LOUDLY with the Python API named
        (sources/store_sql.py for the exact grammar)."""
        from .store_sql import store_sql

        return store_sql(self, statement)

    # -- post-commit hooks ---------------------------------------------------
    def on_commit(self, callback):
        """Register ``callback(table_name)`` to run AFTER any batch
        write to this store handle publishes (append / append_epoch /
        delete_where / update_where / merge_rows / merge_apply /
        replace_product[_all]) — the batch-DML analog of the streaming
        listener, closing the matview staleness window without the
        caller remembering ``refresh_matview`` (VERDICT r12 next #5).
        Contract: the callback runs after the commit is durable, a
        raising callback NEVER blocks or rolls back the write (it
        warns), and hooks are per-handle (a second TableStore on the
        same root has its own list — cross-process freshness is the
        refresh contract's job). Returns the callback (decorator-
        friendly); deregister with ``remove_commit_hook``."""
        self._commit_hooks.append(callback)
        return callback

    def remove_commit_hook(self, callback) -> None:
        self._commit_hooks = [c for c in self._commit_hooks if c is not callback]

    def _fire_commit_hooks(self, table: str) -> None:
        pooled = getattr(self._pooled_hooks, "tables", None)
        if pooled is not None:
            pooled.append(table)  # _pool_map fires it on the calling thread
            return
        for cb in list(self._commit_hooks):
            try:
                cb(table)
            except Exception as e:  # noqa: BLE001 — isolation by contract
                import warnings

                warnings.warn(
                    f"on_commit hook {cb!r} raised for table {table!r}: {e} "
                    "(the write itself committed)",
                    stacklevel=3,
                )

    FORMAT_TAG = "_format.json"
    #: (root, backend) → stat signature of the tag file at verification
    #: time. The tag is immutable WHILE IT EXISTS, but the root can be
    #: deleted and recreated under a different backend within one
    #: process (review r10 wave 4) — the put-if-absent link always
    #: lands a fresh inode, so signature equality is what proves the
    #: memoized verification still describes THIS tag, not a namesake.
    _FORMAT_TAG_VERIFIED: dict[tuple[str, str], tuple] = {}

    def _verify_format_tag(self) -> None:
        """Persist the commit backend's layout name at the store root
        on first open; FAIL FAST when a later open configures a
        backend with a different layout. Without this, opening a
        localfs-formatted store with backend='cas' (or vice versa)
        reads no manifests at all — every partition silently degrades
        to listing mode, and the next epoch-append's first-manifest
        path marks all on-disk files live, RESURRECTING superseded
        rows. Pre-tag legacy roots are probed for one commit artifact
        (bounded listing, first signal wins) before being tagged.
        Backends with ``format_name=None`` (wrappers, test doubles)
        opt out entirely.

        A (root, backend) pair that VERIFIED once memoizes for the
        process lifetime: the tag is written once and never changes,
        so re-verification on every fresh TableStore handle (the
        per-query serving pattern) would re-pay a tag read + possible
        layout probe for no information."""
        import os
        import uuid

        configured = self._backend.format_name
        if configured is None:
            return
        root = Path(self.root)
        tag = root / self.FORMAT_TAG
        memo_key = (str(root), configured)
        memo_sig = TableStore._FORMAT_TAG_VERIFIED.get(memo_key)
        if memo_sig is not None:
            # one stat, not a read+parse — but compare the tag's stat
            # signature against the one memoized at verification: a
            # root rmtree'd and recreated under a DIFFERENT backend
            # reuses the same path with a new inode, and an
            # existence-only check would wave the stale verification
            # through (superseded files resurrect). A vanished or
            # replaced tag falls through to the full path below.
            try:
                st = tag.stat()
                if (st.st_mtime_ns, st.st_size, st.st_ino) == memo_sig:
                    return
            except OSError:
                pass

        def read_tag() -> str | None:
            try:
                return json.loads(tag.read_text()).get("backend")
            except (OSError, json.JSONDecodeError):
                return None

        recorded = read_tag()
        if recorded is None:
            detected = self._detect_backend_layout(root)
            if detected is None or detected == configured:
                # first open (or legacy layout matching the config):
                # record via put-if-absent so racing first opens with
                # DIFFERENT configs admit exactly one winner — the
                # loser re-reads and fails the comparison below. A
                # read-only root (replica mount) or a filesystem
                # without hardlinks simply stays untagged: the layout
                # DETECTION above still enforces the mismatch check,
                # and opening must not require write permission.
                tmp = root / f".{self.FORMAT_TAG}.tmp-{uuid.uuid4().hex}"
                try:
                    root.mkdir(parents=True, exist_ok=True)
                    tmp.write_text(json.dumps({"backend": configured}))
                    os.link(tmp, tag)
                except FileExistsError:
                    pass
                except OSError:
                    pass
                finally:
                    try:
                        tmp.unlink(missing_ok=True)
                    except OSError:
                        pass  # read-only mount: nothing was written
            recorded = read_tag() or detected
        if recorded is not None and recorded != configured:
            raise ValueError(
                f"store at {self.root} is formatted for commit backend "
                f"{recorded!r} but was opened with {configured!r} — its "
                "manifests would be invisible (partitions degrade to "
                "listing mode and superseded files resurrect); open it "
                f"with backend={recorded!r}"
            )
        try:
            st = tag.stat()
            TableStore._FORMAT_TAG_VERIFIED[memo_key] = (
                st.st_mtime_ns,
                st.st_size,
                st.st_ino,
            )
        except OSError:
            # untagged root (read-only mount): never memoize — the
            # layout detection must re-run per open, since a recreated
            # root could silently change layout without a tag to pin it
            TableStore._FORMAT_TAG_VERIFIED.pop(memo_key, None)

    @staticmethod
    def _detect_backend_layout(root: Path) -> str | None:
        """Best-effort layout probe for PRE-TAG roots: find one commit
        artifact and report which backend wrote it. Driver-side
        listing bounded by tables × partitions, short-circuiting at
        the first signal; None when the root carries no commit
        artifacts at all (fresh or pure-listing legacy store)."""
        if not root.exists():
            return None
        if (root / "_cas").exists() or (root / "_pseq" / "_cas").exists():
            return "cas"
        if (root / EPOCHS).exists():
            return "localfs"
        pseq = root / "_pseq"
        if pseq.exists() and any(pseq.glob("*.json")):
            return "localfs"
        for table_dir in sorted(root.iterdir()):
            if not table_dir.is_dir() or table_dir.name.startswith("_"):
                continue
            for part in sorted(table_dir.iterdir()):
                if not part.is_dir():
                    continue
                if (part / "_cas").exists():
                    return "cas"
                if (part / COMMITTED).exists():
                    return "localfs"
        return None

    def _exclusive_lock(self):
        """Writer mutual exclusion, delegated to the commit backend:
        a real flock on POSIX, a no-op under CAS (where every write
        path is conditional and retries on conflict — optimistic
        concurrency IS the serialization)."""
        return self._backend.lock(Path(self.root))

    # -- manifest access through the commit backend ------------------------
    def _manifest(self, part_dir: Path) -> dict | None:
        cur = self._backend.read(part_dir, COMMITTED)
        return cur[1] if cur else None

    def committed_state(self, table: str) -> tuple:
        """A cheap token of the table's committed snapshot: per
        partition its manifest version and commit time from the commit
        backend (the time tells a version apart from its namesake after
        a legacy replace restarted the numbering; a listing-mode
        partition, which has no manifest, contributes its file names).
        Equal tokens mean the live file list and deletion vectors are
        unchanged; reading one runs no Spark job and opens no parquet
        footer."""
        p = Path(self._path(table))
        if not p.is_dir():
            return ()
        state = []
        for entry in sorted(p.iterdir()):
            if entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}="):
                cur = self._backend.read(entry, COMMITTED)
                state.append((entry.name, (cur[0], cur[1].get("committed_at")) if cur else tuple(
                    f.name for f in sorted(entry.glob("*.parquet"))
                )))
            elif entry.suffix == ".parquet":
                state.append((entry.name, None))
        return tuple(state)

    def _update_manifest(self, part_dir: Path, update_fn):
        """Optimistic read-compute-CAS loop (``commit.cas_update``),
        the one shape every manifest write goes through:
        ``update_fn(prior_body_or_None)`` returns the FULL new
        manifest body (or None to abort). A losing writer recomputes
        against the winner's snapshot — so concurrent appends to one
        partition merge instead of clobbering (no lost update, pinned
        on both backends)."""
        from .commit import cas_update

        body = cas_update(self._backend, part_dir, COMMITTED, update_fn)
        if body is not None:
            self._append_history(part_dir, body)
        return body

    @staticmethod
    def _history_entries(part_dir: Path):
        """Journal entries for one partition in commit order, tolerant
        of a concurrent ``vacuum(prune_history=True)`` unlinking files
        between the listing and the read (a pruned entry is simply
        absent — exactly what the reader would have concluded a moment
        later). ONLY that race is tolerated: genuine corruption (EIO,
        truncated writes) still raises loudly — a journal auditor that
        silently skips bad entries would return wrong snapshots."""
        hist = part_dir / "_history"
        if not hist.exists():
            return
        for h in sorted(hist.glob("*.json")):
            if h.name.startswith("_"):
                continue  # tombstones and other control files
            try:
                yield json.loads(h.read_text())
            except FileNotFoundError:
                continue

    @staticmethod
    def _pruned_until(part_dir: Path) -> float:
        """High-water mark of journal truncation for the partition —
        snapshots at or before it are no longer resolvable (the
        retention contract); 0.0 when never pruned."""
        tomb = part_dir / "_history" / "_pruned_until"
        try:
            return float(tomb.read_text())
        except (OSError, ValueError):
            return 0.0

    @staticmethod
    def _append_history(part_dir: Path, body: dict) -> None:
        """Append-only version journal for time travel (read_at): one
        tiny immutable JSON per commit, named so lexicographic order =
        commit order. Written via tmp+rename so a crash mid-write
        leaves no torn entry — `_history_entries` raises loudly on
        corruption (it's an audit substrate), so every writer must be
        crash-atomic. (On an object store the rename becomes a plain
        single-key PUT, which is atomic there.)"""
        import uuid

        hist = part_dir / "_history"
        hist.mkdir(exist_ok=True)
        name = f"{body['committed_at']:020.6f}-{uuid.uuid4().hex[:8]}.json"
        tmp = hist / f"_tmp-{name}"
        tmp.write_text(json.dumps(body))
        tmp.rename(hist / name)

    #: How long an unjournaled CURRENT manifest is presumed to belong
    #: to a live writer mid-gap (between the manifest CAS and the
    #: journal append — milliseconds in practice). Older than this =
    #: the writer crashed in the gap; the missing journal entry is
    #: rolled FORWARD from the manifest body, because no recovery path
    #: would otherwise ever append it and the change feed would stay
    #: clamped below that commit until an unrelated new commit lands.
    JOURNAL_REPAIR_GRACE_SECONDS = 60.0

    def journal_pending_floor(self, table: str, repair: bool = True) -> float | None:
        """Earliest ``committed_at`` among CURRENT manifests whose
        journal entry has not landed yet (the writer sits between the
        manifest CAS and the journal append), or None when every
        current commit is journaled. Change-feed consumers clamp their
        upper bound below this so a cursor can never advance past a
        commit the journal doesn't show yet — the HARD bound the
        wall-clock watermark lag cannot provide under stalls.

        ``repair`` (default on) self-heals the CRASHED-writer case: a
        current manifest still unjournaled after
        ``JOURNAL_REPAIR_GRACE_SECONDS`` gets its journal entry
        appended here from the manifest body itself — the entry a live
        writer would have written next (same content, journal names
        sort by ``committed_at`` so ordering is preserved). Racing the
        not-actually-dead writer at worst duplicates the entry, which
        every journal consumer tolerates (read_at resolves the same
        body; read_changes' pairwise file diff of identical lists is
        empty). Without this, the feed stalls indefinitely."""
        import time

        p = Path(self._path(table))
        if not p.exists():
            return None
        floor: float | None = None
        for entry in sorted(p.iterdir()):
            if not (entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}=")):
                continue
            m = self._manifest(entry)
            if m is None:
                continue
            ts = m.get("committed_at")
            if ts is None:
                continue
            if not (entry / "_history").exists():
                # journal-less legacy partition: read_changes skips it
                # entirely, so it must not clamp the feed forever
                continue
            if not any(
                e.get("committed_at") == ts for e in self._history_entries(entry)
            ):
                if repair and time.time() - ts > self.JOURNAL_REPAIR_GRACE_SECONDS:
                    try:
                        self._append_history(entry, m)
                        continue
                    except OSError:
                        # read-only consumer (replica mount, low-priv
                        # account): can't self-heal — keep clamping,
                        # which is exactly the pre-repair behavior
                        pass
                floor = ts if floor is None else min(floor, ts)
        return floor

    def exists(self, table: str) -> bool:
        return Path(self._path(table)).exists()

    def proves_live_row(self, table: str, col: str, above) -> bool:
        """Driver-side EXISTENCE proof from manifest metadata: True
        when some partition's manifest records a file with NO
        deletion-vector mask whose ``col`` max exceeds ``above`` —
        parquet max is attained by a real (non-null) row and the file
        is unmasked, so ``col > above`` provably has a live match and
        the caller can skip its probe scan (r16, guide §5: emptiness
        probes on hot read paths were a full Spark job each). False
        means UNKNOWN (missing stats/manifest, masked file), never
        "provably empty" — callers must fall back to scanning."""
        root = Path(self._path(table))
        if not root.exists():
            return False
        v = _normalize_bound(above)
        if v is None:
            return False
        for entry in sorted(root.iterdir()):
            if not (
                entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}=")
            ):
                continue
            m = self._manifest(entry)
            if m is None:
                continue
            phys = (m.get("colmap") or {}).get(col, col)
            dv = m.get("dv") or {}
            stats = m.get("stats") or {}
            for n in m.get("files") or []:
                if n in dv:
                    continue
                s = (stats.get(n) or {}).get(phys)
                if s and _stat_comparable(s[1], v) and s[1] > v:
                    return True
        return False

    def _live_files(self, table_dir: Path, where=None, dv_out: list | None = None) -> list[str]:
        """Resolve the table's live data files through the per-partition
        ``_committed.json`` manifests (snapshot isolation: a publish
        swaps the manifest atomically and leaves the previous version's
        files on disk until vacuum(), so an in-flight reader whose plan
        captured the old list keeps reading consistent all-old data).
        Partitions without a manifest — plain appends, legacy layouts —
        fall back to directory listing, where every file is live.

        ``where`` (list of ``(col, op, value)``) enables file-level data
        skipping against the manifest's per-file min/max stats, plus
        partition-dir skipping when a predicate names PARTITION_COL —
        both conservative (a file without stats for the column is kept)."""
        files: list[str] = []
        for entry in sorted(table_dir.iterdir()):
            if entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}="):
                if where:
                    raw = entry.name.split("=", 1)[1]
                    try:
                        pv: float | str = int(raw)
                    except ValueError:
                        pv = raw
                    if not _file_may_match({PARTITION_COL: [pv, pv]}, where):
                        continue
                self._prune_partition_files(
                    entry, self._manifest(entry), where, files, dv_out
                )
            elif entry.suffix == ".parquet":
                files.append(str(entry))
        return files

    @staticmethod
    def _prune_partition_files(
        entry: Path, manifest: dict | None, where, files: list, dv_out: list | None
    ) -> None:
        """THE per-partition file-skipping rule, shared by
        ``_live_files`` (the probe surface) and ``_read_plan`` (the
        read path) so the two can never disagree about what a
        predicate prunes: manifest partitions prune per file through
        zone maps/blooms and report deletion-vector entries;
        listing-mode partitions contribute every file."""
        if manifest is not None:
            stats = manifest.get("stats", {})
            dv_entries = manifest.get("dv") or {}
            for n in manifest["files"]:
                if where and not _file_may_match(stats.get(n), where):
                    continue
                files.append(str(entry / n))
                if dv_out is not None and n in dv_entries:
                    dv_out.append((entry, n, dv_entries[n]))
        else:
            files += sorted(str(f) for f in entry.glob("*.parquet"))

    def live_files(self, table: str, where=None) -> list[str]:
        """The exact file list a ``read(table, where)`` would scan —
        the listing probe tests and ops tooling use to verify skipping.
        Predicates arrive in LOGICAL names, exactly as ``read`` takes
        them; stats/blooms are probed under the physical mapping."""
        p = Path(self._path(table))
        if not p.exists():
            return []
        colmap, _ = self._table_colmap(p)
        return self._live_files(p, _where_physical(where, colmap))

    # -- deletion-vector plumbing ------------------------------------------
    def _write_dv_sidecar(self, part_dir: Path, positions) -> tuple[str, int]:
        """Persist one file's deletion mask as an immutable sidecar
        (tmp+rename: crash-atomic, a torn write never becomes
        referencable). Returns (sidecar_name, position_count)."""
        import uuid

        data = _encode_dv(positions)
        name = f"dv-{uuid.uuid4().hex}.bin"
        tmp = part_dir / f"_tmp-{name}"
        tmp.write_bytes(data)
        tmp.rename(part_dir / name)
        return name, (len(data) - len(DV_MAGIC)) // 8

    #: Decoded sidecar memo shared across TableStore handles (sidecars
    #: are immutable and uuid-named, so a path can never re-bind to
    #: different bytes); bounded by total cached POSITIONS, not
    #: entries. The lock guards the size-accounting sweep — DML
    #: partition passes run from a driver thread pool, and an
    #: unguarded ``sum`` over a dict other threads insert into raises
    #: ``dictionary changed size during iteration`` (review r10).
    _DV_DECODE_CACHE: dict[str, object] = {}
    _DV_DECODE_CACHE_MAX_POSITIONS = 32 << 20
    _DV_DECODE_CACHE_POSITIONS = [0]  # running total: O(1) cap checks
    _DV_DECODE_CACHE_LOCK = __import__("threading").Lock()

    def _dv_positions(self, part_dir: Path, entry: dict):
        """Decode one DV entry's positions. A MISSING sidecar raises
        loudly: silently skipping the mask would RESURRECT deleted
        rows — the one failure mode a merge-on-read store must never
        paper over (fsck reports it as ``missing``)."""
        f = part_dir / entry["sidecar"]
        cache = TableStore._DV_DECODE_CACHE
        hit = cache.get(str(f))  # single dict read: atomic under the GIL
        if hit is not None:
            return hit
        try:
            data = f.read_bytes()
        except OSError as e:
            raise FileNotFoundError(
                f"deletion-vector sidecar missing: {f} — reading without "
                "the mask would resurrect deleted rows (fsck classifies "
                "this as data loss)"
            ) from e
        pos = _decode_dv(data)
        with TableStore._DV_DECODE_CACHE_LOCK:
            if str(f) not in cache:  # racing duplicate: count once
                counter = TableStore._DV_DECODE_CACHE_POSITIONS
                if (
                    counter[0] + len(pos)
                    > TableStore._DV_DECODE_CACHE_MAX_POSITIONS
                ):
                    cache.clear()
                    counter[0] = 0
                cache[str(f)] = pos
                counter[0] += len(pos)
        return pos

    def _local_frame(self, columns: list, schema) -> DataFrame:
        """A small driver-built frame (``columns``: one sequence per
        field of the ``StructType`` ``schema``) built from a pandas
        frame, so the Arrow path plans it as a JVM ``LocalRelation``.
        A tuple-list ``createDataFrame`` plans as a Python-RDD scan
        (``Scan ExistingRDD``) whose every broadcast spins Python
        workers: a measured ~0.35 s fixed tax per masked read, and
        0.42–0.57 s against 0.26–0.33 s for a broadcast semi-join
        against a 200-row key frame (4-vCPU local mode); the
        LocalRelation broadcast is pure JVM. Naive ``datetime`` values of a ``timestamp`` field
        are read as local wall-clock times — what ``collect()``
        returns, and how the tuple-list path reads them."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import TimestampType

        data = {}
        for f, vals in zip(schema.fields, columns):
            if isinstance(f.dataType, TimestampType):
                vals = pd.to_datetime(
                    [None if v is None else v.astimezone() for v in vals], utc=True
                )
            elif not isinstance(vals, np.ndarray):
                # object dtype: ints with nulls stay exact (no float64)
                vals = pd.Series(list(vals), dtype=object)
            data[f.name] = vals
        return self.spark.createDataFrame(pd.DataFrame(data), schema)

    def _local_rows(self, rows, schema) -> DataFrame:
        """``_local_frame`` over row tuples."""
        return self._local_frame(
            [[r[i] for r in rows] for i in range(len(schema.fields))], schema
        )

    def _dv_probe(self, triples) -> DataFrame:
        """(partition_dir_name, file_name, position) probe frame for
        the mask join. Driver-side by construction: the write path
        caps each file's mask (DV_MAX_POSITIONS_PER_FILE) AND each
        partition's total live mask (DV_PARTITION_MASK_CAP — over
        budget, dense masks demote to rewrite), so a read's probe is
        bounded by cap × touched partitions, broadcastable at any
        table size (a ``_local_frame``, so the broadcast is pure
        JVM)."""
        import numpy as np
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        parts: list = []
        names: list = []
        arrays: list = []
        for part, name, arr in triples:
            a = np.asarray(arr, dtype="int64")
            parts.append(np.repeat(np.array([part], dtype=object), len(a)))
            names.append(np.repeat(np.array([name], dtype=object), len(a)))
            arrays.append(a)
        return self._local_frame(
            [
                np.concatenate(parts) if parts else np.array([], dtype=object),
                np.concatenate(names) if names else np.array([], dtype=object),
                np.concatenate(arrays) if arrays else np.array([], dtype="int64"),
            ],
            StructType(
                [
                    StructField("__dv_part", StringType()),
                    StructField("__dv_name", StringType()),
                    StructField("__dv_pos", LongType()),
                ]
            ),
        )

    @staticmethod
    def _with_dv_keys(df: DataFrame) -> DataFrame:
        """Attach (partition dir, file name, row position) join keys
        from the scan's ``_metadata`` columns. Keyed on the LAST TWO
        path segments, not the full path: scheme-agnostic (Spark
        renders ``file:/…``, object stores ``s3://…``) and unique
        within a table — file names are uuid-suffixed per write job,
        and equal names can only recur across DIFFERENT partition
        dirs (one partitioned write lands the same part-file name in
        several partitions), which the dir segment disambiguates.

        A payload column named like one of the three join keys would be
        silently overwritten here and then "restored" corrupted by the
        post-join ``select(*cols)`` on every masked read — refuse
        loudly instead (ADVICE r9)."""
        clash = {"__dv_part", "__dv_name", "__dv_pos"} & set(df.columns)
        if clash:
            raise ValueError(
                f"reserved column name(s) {sorted(clash)} collide with the "
                "deletion-vector join keys — rename the payload column(s)"
            )
        segs = F.split(F.col("_metadata.file_path"), "/")
        return (
            df.withColumn("__dv_part", F.element_at(segs, -2))
            .withColumn("__dv_name", F.element_at(segs, -1))
            .withColumn("__dv_pos", F.col("_metadata.row_index"))
        )

    def _apply_dv_mask(self, df: DataFrame, probe: DataFrame, mode: str) -> DataFrame:
        """Drop (``mode='exclude'``) or keep ONLY (``'only'``) the
        probe's (file, position) rows — a broadcast anti/semi join
        against the scan's row-position metadata, never a row-at-a-time
        UDF. The probe is bounded by the DV write caps, so the join is
        a BroadcastHashJoin with zero fact-side shuffle at any scale."""
        cols = df.columns
        keyed = self._with_dv_keys(df)
        how = "left_anti" if mode == "exclude" else "left_semi"
        out = keyed.join(
            F.broadcast(probe), ["__dv_part", "__dv_name", "__dv_pos"], how
        )
        return out.select(*cols)

    #: Small-mask fast path: a read whose touched masks total at most
    #: this many positions applies them as a pure scan FILTER (an IN
    #: list on the row-index metadata) instead of building a probe
    #: frame + broadcast anti-join — the probe's createDataFrame alone
    #: measured ~24 ms of fixed driver tax per masked read, and the
    #: join adds a broadcast exchange job; a few-thousand-literal IN
    #: stays cheap on both sides (VERDICT r10 directive #3).
    DV_FILTER_MAX_POSITIONS = 4096
    #: ... but only across a FEW files (r16, guide §1/§7.2): the
    #: literal filter is one OR-disjunct per masked file, and every
    #: scanned row evaluates the chain until its own file's branch
    #: matches — linear in the masked-file count. On the 200-file
    #: DML-soak layout the chain measured 3.5 s where the broadcast
    #: anti-join (one O(1) hash probe per row) took 1.4 s, identical
    #: results; with one or two masked files the filter's saved fixed
    #: tax still wins.
    DV_FILTER_MAX_FILES = 4

    def _dv_mask_filter(self, triples, mode: str):
        """The (partition, file, positions) mask as a boolean Column
        over the scan's ``_metadata``, or None when the total mask is
        too large — in positions or in per-file OR branches — for the
        literal-filter form (callers fall back to the broadcast-join
        probe). Built as ONE SQL expression string, parsed in a single
        py4j call: a Column per literal made a few-hundred-position
        mask cost ~0.4 s of py4j round trips on every masked read."""
        total = sum(len(t[2]) for t in triples)
        if total > self.DV_FILTER_MAX_POSITIONS:
            return None
        if len(triples) > self.DV_FILTER_MAX_FILES:
            return None
        segs = "split(_metadata.file_path, '/')"
        branches = [
            f"(element_at({segs}, -2) = {_sql_str(part_name)}"
            f" AND element_at({segs}, -1) = {_sql_str(file_name)}"
            f" AND _metadata.row_index IN ({', '.join(str(int(x)) for x in positions)}))"
            for part_name, file_name, positions in triples
            if len(positions)
        ]
        hit = " OR ".join(branches) or "false"
        return F.expr(f"NOT ({hit})" if mode == "exclude" else f"({hit})")

    def _scan_with_dv(self, reader, files: list[str], dv_sel: list) -> DataFrame:
        """Scan ``files`` with any deletion vectors applied — the ONE
        split-scan rule shared by read() and read_at(): only the
        masked files' rows pay the metadata extraction and the
        broadcast anti-join; a table with one masked file must not tax
        every other file's rows."""
        if not dv_sel:
            return reader.parquet(*files)
        masked_paths = {str(e / n) for e, n, _ in dv_sel}
        plain = [f for f in files if f not in masked_paths]
        triples = [(e.name, n, self._dv_positions(e, ent)) for e, n, ent in dv_sel]
        flt = self._dv_mask_filter(triples, "exclude")
        if flt is not None:
            df = reader.parquet(*sorted(masked_paths)).filter(flt)
        else:
            df = self._apply_dv_mask(
                reader.parquet(*sorted(masked_paths)), self._dv_probe(triples),
                "exclude",
            )
        if plain:
            # allowMissingColumns: when the manifest carries no declared
            # schema (legacy) the two halves are independently inferred,
            # so heterogeneous file schemas must align by name with
            # null-fill — the same rule read_at/read_changes use
            # (ADVICE r9). With a declared schema both sides are
            # identical and this is a no-op.
            df = reader.parquet(*plain).unionByName(
                df, allowMissingColumns=True
            )
        return df

    def _mask_live(self, df: DataFrame, part_dir: Path, dv: dict) -> DataFrame:
        """Apply a partition's live deletion vectors to a scan of its
        files (no-op for an empty map)."""
        if not dv:
            return df
        triples = [
            (part_dir.name, n, self._dv_positions(part_dir, e))
            for n, e in dv.items()
        ]
        flt = self._dv_mask_filter(triples, "exclude")
        if flt is not None:
            return df.filter(flt)
        return self._apply_dv_mask(df, self._dv_probe(triples), "exclude")

    def read(self, table: str, where=None, prune_only: bool = False) -> DataFrame | None:
        """None when the table has no data yet (including the
        every-partition-deleted state). Reads resolve through the
        committed manifests — the explicit file list (with basePath so
        the partition column survives) is the same mechanism a table
        format's snapshot read uses, and costs one driver-side listing,
        no extra Spark jobs.

        ``where`` is a list of ``(col, op, value)`` with op in
        ``== >= > <= < between in`` (between takes a ``(lo, hi)``
        value; in takes a sequence, pruned per member through zone
        maps AND blooms — the point-SET analog of ``==``; OR takes the
        disjunct form ``[[...], "or", [...]]`` — lists of clauses
        separated by the literal string "or", file sets UNIONING
        across disjuncts):
        the predicates prune the FILE LIST through the manifest zone
        maps (min/max harvested from parquet footers at commit), then
        are applied as a real ``filter`` on the frame — so the result
        is always identical to ``read(table).filter(...)``, just
        without opening files that provably hold no matching row. At
        100 TB this is the difference between scanning a product's
        whole history and touching only the files covering one RefDate
        range.

        ``prune_only=True`` keeps the FILE-LIST pruning but skips the
        final row filter, returning the pruned files' full contents (a
        SUPERSET of the predicate's rows). For huge ``in`` probes the
        row filter is the expensive part — a 10k-literal isin() costs
        seconds of py4j marshaling + Catalyst work — and callers whose
        next step is an equi/anti-JOIN on the same column (the
        incremental-dedup index probes) get exact results from the
        join itself, so the filter would be pure overhead."""
        p = Path(self._path(table))
        if not p.exists():
            return None
        # ONE manifest read per partition feeds the declared schema,
        # the column mapping, the pruned file list, and the DV
        # selection (the naive composition re-parsed every manifest
        # JSON three times per read — review r9 finding)
        schema, colmap, files, dv_sel = self._read_plan(p, where)
        reader = self.spark.read.option("basePath", str(p))
        if schema is not None:
            # declared union schema: pre-evolution files surface new
            # columns as nulls, subset-appended files surface missing
            # ones — without a mergeSchema scan of every footer. The
            # SCAN runs under the PHYSICAL names (what the files
            # carry); logical names come back via the rename below.
            reader = reader.schema(_to_physical_schema(schema, colmap))
        if not files:
            if where:
                # every file pruned, but the TABLE may have data: return
                # an empty frame with the real schema (one footer read),
                # not None — None means "no data at all"
                all_files = self._live_files(p)
                if all_files:
                    return _rename_to_logical(
                        reader.parquet(all_files[0]), colmap
                    ).filter(F.lit(False))
            return None
        df = _rename_to_logical(self._scan_with_dv(reader, files, dv_sel), colmap)
        if where and not prune_only:
            df = df.filter(_where_expr(where))
        return df

    def _read_plan(self, p: Path, where) -> tuple:
        """One pass over the table's partitions: returns ``(logical
        schema | None, colmap, pruned file list, dv selection)`` with
        every partition's manifest read exactly ONCE. The caller's
        predicate arrives in logical names and is translated to the
        physical stats/bloom keys after the mapping is known — the
        partition-dir check only ever names PARTITION_COL, which is
        never remapped, so pruning with the translated predicate
        against the already-read manifest bodies is equivalent to the
        old three-pass composition."""
        import functools

        entries: list[tuple[Path, dict | None]] = []
        bare: list[Path] = []
        for entry in sorted(p.iterdir()):
            if entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}="):
                entries.append((entry, self._manifest(entry)))
            elif entry.suffix == ".parquet":
                bare.append(entry)
        colmap, _ = _union_colmap((m for _, m in entries), p.name)
        declared: list = []
        probes: list[Path] = []
        for entry, m in entries:
            if m is None:
                fs = sorted(entry.glob("*.parquet"))
                if fs:
                    probes.append(fs[0])
                continue
            if m.get("schema"):
                declared.append(_schema_from_json(m["schema"]))
            elif m["files"]:
                probes.append(entry / m["files"][0])
        probes.extend(bare)
        schema = None
        if declared:
            # _footer_schema goes through the session on TableStore and
            # pyarrow on the Spark-free StoreMeta — the SAME plan logic
            # serves read() and the batch data source (store_source.py)
            for f in probes:
                declared.append(self._footer_schema(f))
            schema = functools.reduce(_merge_schemas, declared)
        pwhere = _where_physical(where, colmap)
        files: list[str] = []
        dv_sel: list = []
        for entry, m in entries:
            if pwhere:
                raw = entry.name.split("=", 1)[1]
                try:
                    pv: float | str = int(raw)
                except ValueError:
                    pv = raw
                if not _file_may_match({PARTITION_COL: [pv, pv]}, pwhere):
                    continue
            self._prune_partition_files(entry, m, pwhere, files, dv_sel)
        files += [str(f) for f in bare]
        return schema, colmap, files, dv_sel

    def read_at(
        self, table: str, as_of: float, where=None, prune_only: bool = False
    ) -> DataFrame | None:
        """TIME TRAVEL (TIMESTAMP AS OF): the table as of wall-clock
        ``as_of`` (epoch seconds). Each partition resolves the latest
        history manifest committed at or before ``as_of`` — partitions
        first committed later are absent, exactly as they were then.
        Works as far back as vacuum retention lets the superseded DATA
        files live (the Delta contract: history manifests are
        metadata-sized and kept; ``vacuum(older_than_seconds=W)``
        bounds how old a snapshot remains materializable). Returns None
        when nothing existed yet.

        ``where`` / ``prune_only`` follow ``read``'s grammar and
        contract exactly: the SNAPSHOT's manifests carry the same zone
        maps/blooms the live manifest does (they ARE prior live
        manifests), so a predicate prunes the historical file list the
        same way — the matview recompute branch rides on this so a
        MIN-moving delete re-aggregates only the touched groups' files
        instead of planning every live base file (VERDICT r12 wrong
        #1). Predicates arrive in LOGICAL names and translate per
        snapshot era's column mapping."""
        p = Path(self._path(table))
        if not p.exists():
            return None
        # partitions group by their snapshot's (schema, column-mapping)
        # era: each group scans under ITS physical schema and renames
        # to the logical names THAT snapshot declared — so a read_at
        # before a rename surfaces the old name, after it the new
        # (normally one group; eras only mix for an as_of taken
        # mid-admin-op across partitions)
        groups: dict[tuple, dict] = {}
        skipped_listing = []
        for entry in sorted(p.iterdir()):
            if not (entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}=")):
                continue
            best = None
            for m in self._history_entries(entry):
                if m.get("committed_at", 0) <= as_of:
                    best = m          # sorted names: last match = latest
                else:
                    break
            if best is None:
                if self._pruned_until(entry) > as_of:
                    raise ValueError(
                        f"read_at({table!r}, {as_of}): snapshot pruned from the "
                        f"journal ({entry.name}) — outside vacuum retention"
                    )
                # a LISTING-MODE partition (plain appends, no manifest
                # history) has no snapshots to resolve: its rows are
                # silently absent from every read_at — warn ONCE per
                # call so no caller mistakes that for "the data did not
                # exist yet" (review r11; adopt_manifests upgrades it)
                if self._manifest(entry) is None and any(
                    entry.glob("*.parquet")
                ):
                    skipped_listing.append(entry.name)
                continue
            colmap = best.get("colmap") or {}
            key = (best.get("schema"), tuple(sorted(colmap.items())))
            g = groups.setdefault(key, {"files": [], "dv": [], "colmap": colmap})
            kept = best["files"]
            if where:
                pwhere = _where_physical(where, colmap)
                raw = entry.name.split("=", 1)[1]
                try:
                    pv: float | str = int(raw)
                except ValueError:
                    pv = raw
                if not _file_may_match({PARTITION_COL: [pv, pv]}, pwhere):
                    kept = []
                else:
                    stats = best.get("stats") or {}
                    kept = [
                        n for n in kept if _file_may_match(stats.get(n), pwhere)
                    ]
                g["pruned"] = g.get("pruned", False) or (
                    len(kept) < len(best["files"])
                )
            g["files"] += [str(entry / n) for n in kept]
            kept_set = set(kept)
            for n, e in (best.get("dv") or {}).items():
                if n in kept_set:
                    g["dv"].append((entry, n, e))
        if skipped_listing:
            import warnings

            warnings.warn(
                f"read_at({table!r}): listing-mode partition(s) "
                f"{skipped_listing} hold files but no manifest history — "
                "their rows are absent from the snapshot; run "
                f"adopt_manifests({table!r}) to make them time-travelable",
                stacklevel=2,
            )
        if not any(g["files"] for g in groups.values()):
            if where and any(g.get("pruned") for g in groups.values()):
                # every snapshot file pruned, but the snapshot HAD
                # data: an empty frame with the real schema, read's
                # same contract (None still means "did not exist yet")
                return self.read_at(table, as_of, where=None).filter(
                    F.lit(False)
                )
            return None
        out: DataFrame | None = None
        for (schema_json, _), g in sorted(groups.items(), key=lambda kv: str(kv[0])):
            if not g["files"]:
                continue
            reader = self.spark.read.option("basePath", str(p))
            if schema_json:
                reader = reader.schema(
                    _to_physical_schema(_schema_from_json(schema_json), g["colmap"])
                )
            # the snapshot's deletion vectors are part of the snapshot:
            # time travel applies exactly the masks that were live then
            # (shared split-scan rule — see _scan_with_dv)
            df = _rename_to_logical(
                self._scan_with_dv(reader, g["files"], g["dv"]), g["colmap"]
            )
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        if out is not None and where and not prune_only:
            out = out.filter(_where_expr(where))
        return out

    def restore(self, table: str, as_of: float) -> int:
        """RESTORE (rollback): make the ``as_of`` snapshot current
        again, per partition, by republishing that version's manifest —
        a metadata-only operation (no data rewrite; the files must
        still exist, i.e. lie within vacuum retention — checked, with a
        clear error naming the first missing file). Partitions born
        after ``as_of`` are emptied (their manifest becomes a zero-file
        list; history keeps every prior version, so a restore is itself
        restorable). Returns the number of partitions whose manifest
        changed. Takes the store lock like any publish."""
        p = Path(self._path(table))
        if not p.exists():
            return 0
        changed = 0
        with self._exclusive_lock():
            for entry in sorted(p.iterdir()):
                if not (entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}=")):
                    continue
                current = self._manifest(entry)
                if not (entry / "_history").exists() or current is None:
                    continue
                best = None
                for m in self._history_entries(entry):
                    if m.get("committed_at", 0) <= as_of:
                        best = m
                    else:
                        break
                if best is None and self._pruned_until(entry) > as_of:
                    raise ValueError(
                        f"restore({table!r}, {as_of}): snapshot pruned from the "
                        f"journal ({entry.name}) — outside vacuum retention; "
                        "refusing to conflate with a later-born partition "
                        "(which would empty it)"
                    )
                target_files = best["files"] if best else []
                target_dv = (best or {}).get("dv") or {}
                if (
                    target_files == current["files"]
                    and target_dv == (current.get("dv") or {})
                    and (best or {}).get("schema") == current.get("schema")
                    and ((best or {}).get("colmap") or {})
                    == (current.get("colmap") or {})
                ):
                    continue
                for n in target_files:
                    if not (entry / n).exists():
                        raise FileNotFoundError(
                            f"restore target file vacuumed: {entry / n} — the "
                            f"{as_of} snapshot is outside vacuum retention"
                        )
                for e in target_dv.values():
                    if not (entry / e["sidecar"]).exists():
                        raise FileNotFoundError(
                            f"restore target deletion-vector sidecar vacuumed: "
                            f"{entry / e['sidecar']} — the {as_of} snapshot is "
                            "outside vacuum retention"
                        )
                self._write_committed(
                    entry,
                    target_files,
                    prior_stats=(best or {}).get("stats"),
                    schema_json=(best or {}).get("schema"),
                    prior_rows=(best or {}).get("rows"),
                    product_seq=(best or {}).get("product_seq"),
                    dv=target_dv,
                    colmap=(best or {}).get("colmap"),
                    dropped_physical=(best or {}).get("dropped_physical"),
                )
                changed += 1
        return changed

    def read_changes(
        self, table: str, since: float, until: float | None = None
    ) -> DataFrame | None:
        """CHANGE DATA FEED: row-level deltas committed strictly after
        ``since`` (and at/before ``until``, default now) as one frame
        with the payload columns plus ``_change_type`` ('insert' |
        'delete') and ``_committed_at`` (epoch seconds of the commit).
        Derived purely from the manifest history journal — each commit
        names its full file list, so per-commit added/removed FILES
        diff out of consecutive entries and their rows ARE the deltas
        (data files are immutable): an append yields inserts, a
        replace/merge yields deletes of the superseded rows plus
        inserts of the new — applying deltas in commit order to the
        ``since`` snapshot reproduces the ``until`` snapshot exactly
        (pytest-pinned, the Delta CDF contract). Delete rows read from
        SUPERSEDED files, so the window must lie within vacuum
        retention — a missing file raises, naming it, rather than
        silently under-reporting. Returns None when nothing changed.

        At 100 TB this is what lets downstream consumers (dimension
        growth, serving-copy sync, cache invalidation) subscribe to a
        table incrementally instead of re-reading the full snapshot:
        the cost is proportional to the CHANGED files, not table size."""
        import time

        until = time.time() if until is None else until
        p = Path(self._path(table))
        if not p.exists():
            return None
        slices = self._change_slices(table, since, until)
        if not slices:
            return None
        missing = [s["path"] for s in slices if not Path(s["path"]).exists()]
        if missing:
            raise FileNotFoundError(
                f"read_changes({table!r}, since={since}): change file vacuumed: "
                f"{missing[0]} — the requested window is outside vacuum retention"
            )
        # each (kind, commit) group reads under ITS commit's declared
        # schema mapped through ITS column mapping, then surfaces the
        # logical names — renamed columns keep their data across the
        # feed (the final unionByName aligns groups; a window SPANNING
        # a rename surfaces both logical names with nulls on the far
        # side, so long-lived consumers should re-baseline after admin
        # ops — the Delta column-mapping CDF caveat)
        out: DataFrame | None = None
        by_commit: dict[tuple, dict] = {}
        for s in slices:
            mode = s["mask"][0] if s["mask"] else None
            # the COLUMN MAPPING is part of the group key: a
            # multi-partition commit (replace_product_all) lands several
            # partitions under ONE committed_at, and partitions with
            # different mappings cannot share a scan (one rename applies
            # per frame); the DECLARED SCHEMAS of a group's slices merge
            # so no slice's column reads as absent under a narrower
            # sibling schema (ADVICE r9)
            cmap_key = tuple(sorted((s["colmap"] or {}).items()))
            g = by_commit.setdefault(
                (s["kind"], s["ts"], mode, cmap_key),
                {"items": [], "schema": s["schema"], "colmap": s["colmap"]},
            )
            if s["schema"] and g["schema"] and s["schema"] != g["schema"]:
                g["schema"] = _merge_schemas(
                    _schema_from_json(g["schema"]),
                    _schema_from_json(s["schema"]),
                ).json()
            elif s["schema"] and not g["schema"]:
                g["schema"] = s["schema"]
            g["items"].append((s["path"], s["mask"]))
        for (kind, ts, mode, _cmap), g in sorted(
            by_commit.items(), key=lambda kv: (kv[0][1], kv[0][0], str(kv[0][2]))
        ):
            reader = self.spark.read.option("basePath", str(p))
            if g["schema"] is not None:
                reader = reader.schema(
                    _to_physical_schema(
                        _schema_from_json(g["schema"]), g["colmap"]
                    )
                )
            frame = reader.parquet(*[f for f, _ in g["items"]])
            if mode is not None:
                triples = [
                    (Path(f).parent.name, Path(f).name, mask[1])
                    for f, mask in g["items"]
                ]
                flt = self._dv_mask_filter(triples, mode)
                if flt is not None:
                    frame = frame.filter(flt)
                else:
                    frame = self._apply_dv_mask(frame, self._dv_probe(triples), mode)
            frame = _rename_to_logical(frame, g["colmap"])
            part = (
                frame
                .withColumn("_change_type", F.lit(kind))
                .withColumn("_committed_at", F.lit(float(ts)))
            )
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
        return out

    def _change_slices(self, table: str, since: float, until: float) -> list[dict]:
        """The change feed's SLICE PLAN, Spark-free (driver-side JSON +
        sidecar reads only — also consumed by the Python data source
        wrapper, whose executors materialize the slices via pyarrow).
        One dict per changed file per commit:
        ``{path, kind, ts, schema, colmap, mask}`` where ``mask`` is
        None (whole file), ``("exclude", positions)`` (the file's
        deletion vector at that snapshot: masked rows were never live
        and must not appear in the delta), or ``("only", positions)``
        (a DELETION-VECTOR delta on an unchanged file: the commit
        masked — or, via restore, unmasked — exactly those row
        positions, so the delta is the rows AT those positions).
        Positions are plain int lists (picklable across executors)."""
        import numpy as np

        p = Path(self._path(table))
        empty = np.array([], dtype="<u8")
        slices: list[dict] = []
        if not p.exists():
            return slices
        for entry in sorted(p.iterdir()):
            if not (entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}=")):
                continue
            if self._pruned_until(entry) > since:
                raise ValueError(
                    f"read_changes({table!r}, since={since}): baseline pruned "
                    f"from the journal ({entry.name}) — the requested window "
                    "is outside vacuum retention"
                )
            prev: set[str] = set()
            prev_schema: str | None = None
            prev_dv: dict = {}
            prev_colmap: dict = {}
            for m in self._history_entries(entry):
                ts = m.get("committed_at", 0)
                cur, cur_schema = set(m["files"]), m.get("schema")
                cur_dv = m.get("dv") or {}
                cur_colmap = m.get("colmap") or {}
                if ts <= since:
                    prev, prev_schema = cur, cur_schema
                    prev_dv, prev_colmap = cur_dv, cur_colmap
                    continue
                if ts > until:
                    break
                def add(name, kind, schema, cmap, mask):
                    slices.append(
                        {
                            "path": str(entry / name),
                            "kind": kind,
                            "ts": ts,
                            "schema": schema,
                            "colmap": cmap,
                            "mask": mask,
                        }
                    )

                for n in sorted(cur - prev):
                    e = cur_dv.get(n)
                    mask = (
                        ("exclude", [int(x) for x in self._dv_positions(entry, e)])
                        if e
                        else None
                    )
                    add(n, "insert", cur_schema, cur_colmap, mask)
                for n in sorted(prev - cur):
                    e = prev_dv.get(n)
                    mask = (
                        ("exclude", [int(x) for x in self._dv_positions(entry, e)])
                        if e
                        else None
                    )
                    add(n, "delete", prev_schema, prev_colmap, mask)
                for n in sorted(cur & prev):
                    pe, ce = prev_dv.get(n), cur_dv.get(n)
                    if (pe or {}).get("sidecar") == (ce or {}).get("sidecar"):
                        continue
                    pp = self._dv_positions(entry, pe) if pe else empty
                    cp = self._dv_positions(entry, ce) if ce else empty
                    grow = np.setdiff1d(cp, pp)
                    shrink = np.setdiff1d(pp, cp)
                    if len(grow):
                        add(n, "delete", cur_schema, cur_colmap,
                            ("only", [int(x) for x in grow]))
                    if len(shrink):  # restore of a pre-delete snapshot
                        add(n, "insert", cur_schema, cur_colmap,
                            ("only", [int(x) for x in shrink]))
                prev, prev_schema = cur, cur_schema
                prev_dv, prev_colmap = cur_dv, cur_colmap
        return slices

    def history(self, table: str) -> list[dict]:
        """DESCRIBE HISTORY analog: every commit of the table, newest
        first — commit timestamp, partition, manifest version, file /
        row counts, product txn seq. Driver-side JSON reads only (the
        journal is metadata-sized); the substrate ``read_at`` /
        ``read_changes`` resolve against."""
        p = Path(self._path(table))
        out: list[dict] = []
        if not p.exists():
            return out
        for entry in sorted(p.iterdir()):
            if not (entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}=")):
                continue
            for m in self._history_entries(entry):
                out.append(
                    {
                        "partition": entry.name,
                        "committed_at": m.get("committed_at"),
                        "version": m.get("version"),
                        "n_files": len(m.get("files", [])),
                        "n_rows": (
                            sum(m["rows"].values()) if m.get("rows") else None
                        ),
                        "product_seq": m.get("product_seq"),
                    }
                )
        out.sort(key=lambda r: r["committed_at"] or 0, reverse=True)
        return out

    def count_rows(self, table: str) -> int:
        """Metadata-only table row count: live file counts are summed
        from the manifests (recorded at commit from the parquet
        footers), so a full-table COUNT(*) touches no data pages and
        launches no Spark job for manifest-covered files. Files outside
        manifest coverage (legacy/listing partitions) are counted with
        one scan over exactly those files. At 100 TB this is the
        difference between a metadata lookup and a cluster-wide scan —
        the same trick a table format's snapshot row-count serves."""
        p = Path(self._path(table))
        if not p.exists():
            return 0
        total = 0
        unknown: list[str] = []
        for entry in sorted(p.iterdir()):
            if entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}="):
                manifest = self._manifest(entry)
                if manifest is not None:
                    rows = manifest.get("rows", {})
                    dv_entries = manifest.get("dv") or {}
                    for n in manifest["files"]:
                        # deletion-vectored positions are NOT live rows:
                        # the count stays metadata-only (footer rows
                        # minus the manifest's recorded mask size)
                        masked = int(dv_entries.get(n, {}).get("count", 0))
                        if n in rows:
                            total += int(rows[n]) - masked
                        else:
                            unknown.append(str(entry / n))
                            total -= masked
                else:
                    unknown += sorted(str(f) for f in entry.glob("*.parquet"))
            elif entry.suffix == ".parquet":
                unknown.append(str(entry))
        if unknown:
            total += self.spark.read.parquet(*unknown).count()
        return total

    def _table_colmap(self, table_dir: Path) -> tuple[dict, set]:
        """Union logical→physical column mapping (plus retired
        physical names) across the table's manifest partitions —
        rename/drop apply table-wide under the store lock, so the
        per-partition maps agree; a genuine divergence (torn admin op
        against a crashed process) fails loudly rather than silently
        reading one partition's column as another's."""
        return _union_colmap(
            (
                self._manifest(part)
                for part in sorted(table_dir.glob(f"{PARTITION_COL}=*"))
            ),
            table_dir.name,
        )

    # -- S10: append sink --------------------------------------------------
    def append(self, table: str, df: DataFrame) -> None:
        """Append rows; product tables keep their partition layout (a
        bare-file append into a partitioned directory would make the
        rows invisible to partition discovery). Partitions already under
        manifest control get their manifest extended with exactly the
        newly-written files, so the append is visible without
        resurrecting unvacuumed previous-version files.

        SCHEMA EVOLUTION: the appended frame may carry a superset or
        subset of the partition's current schema — exactly how a cube's
        dimension tail varies between refreshes (the reference discovers
        dimensions at runtime, dfhandler.py:21–22). The manifest's
        declared schema becomes the UNION (new columns appended, missing
        columns stay); reads declare that union so old files surface the
        new columns as nulls and subset-appended files surface the
        missing ones as nulls — no mergeSchema footer-scan, no file
        rewrite. Same-name-different-type raises before anything is
        written."""
        p = Path(self._path(table))
        payload_schema = df.drop(PARTITION_COL).schema if PARTITION_COL in df.columns else df.schema
        # ONE manifest read per partition feeds the colmap union AND
        # the prior-schema validation below (the composition through
        # _table_colmap parsed every manifest twice — review r9 wave 2)
        manifests: dict[Path, dict] = {}
        if p.exists():
            for part in sorted(p.glob(f"{PARTITION_COL}=*")):
                m = self._manifest(part)
                if m is not None:
                    manifests[part] = m
        colmap, dropped = _union_colmap(manifests.values(), p.name)
        # column mapping: one shared write-side rule (_translate_payload)
        df, colmap = _translate_payload(df, colmap, dropped)
        prior_schemas: dict[Path, object] = {}
        for part, manifest in manifests.items():
            if manifest.get("schema"):
                prior = _schema_from_json(manifest["schema"])
            elif manifest["files"]:
                # legacy manifest: derive the partition schema
                # from one live file's footer
                prior = self.spark.read.parquet(
                    str(part / manifest["files"][0])
                ).schema
            else:
                prior = None
            # validate type compatibility BEFORE writing
            prior_schemas[part] = (
                _merge_schemas(prior, payload_schema) if prior else payload_schema
            )
        # STAGE the write (manifest-less dir + fresh _INFLIGHT
        # sentinel: recover() leaves it alone, a crash GCs after the
        # grace), verify constraints on the staged files, then MOVE
        # them live. Staging first fixes two flaws of the former
        # live-dir diff (review r10 wave 5): a violation cleanup could
        # only GUESS which live files were this append's — in a
        # listing-mode partition the guess swept up pre-existing
        # committed files, and under a concurrent append the OTHER
        # writer's files — and the manifest extends now name exactly
        # the files this append created, never a racer's.
        import shutil
        import uuid as _uuid

        staging = Path(self.root) / "_staging" / f"append_{_uuid.uuid4().hex[:12]}"
        data_dir = staging / "data"
        staging.mkdir(parents=True)
        sentinel = staging / "_INFLIGHT"
        sentinel.write_text("")
        new_by_part: dict[Path, list[str]] = {}
        try:
            # the keepalive covers the WHOLE staged lifetime — write,
            # constraint verify (which can scan), and the moves — not
            # just the Spark write: a verify longer than the grace
            # window is exactly the 100 TB case, and recover() rmtrees
            # a stale-sentinel dir out from under it (review r10
            # wave 6)
            with self._inflight_keepalive(sentinel):
                w = df.write
                if PARTITION_COL in df.columns:
                    w = w.partitionBy(PARTITION_COL)
                w.parquet(str(data_dir))
                staged: dict[str, list[str]] = {}  # part dir name ('.'=root)
                for d in sorted(data_dir.glob(f"{PARTITION_COL}=*")):
                    staged[d.name] = sorted(f.name for f in d.glob("*.parquet"))
                root_names = sorted(f.name for f in data_dir.glob("*.parquet"))
                if root_names:
                    staged["."] = root_names
                cons_at_enforce = self._table_constraints(table)
                self._enforce_constraints(
                    table,
                    [
                        (data_dir if pn == "." else data_dir / pn) / n
                        for pn, ns in staged.items()
                        for n in ns
                    ],
                    colmap,
                )
                # staged names are Spark task-UUID unique: a same-name
                # collision with a concurrent append cannot happen. An
                # I/O error mid-move rolls back the files ALREADY moved
                # before re-raising — in a listing-mode partition they
                # would otherwise stay live as a silent half-append.
                moved: list[Path] = []
                try:
                    for pn, ns in staged.items():
                        target = p if pn == "." else p / pn
                        src_dir = data_dir if pn == "." else data_dir / pn
                        target.mkdir(parents=True, exist_ok=True)
                        for n in ns:
                            (src_dir / n).rename(target / n)
                            moved.append(target / n)
                        new_by_part[target] = ns
                except BaseException:
                    for f in moved:
                        f.unlink(missing_ok=True)
                    raise
        finally:
            # on success only empty dirs remain; on violation the
            # staged files die here, live dirs untouched
            shutil.rmtree(staging, ignore_errors=True)
        # The staging-time constraint read above can go stale on BOTH
        # backends — the store lock only ever serialized the manifest
        # swap, not the constraint read, so a constraint published
        # between the enforce and the extends would admit violating
        # rows with no error (ADVICE r10 — the old comment claimed the
        # window was CAS-only). Close it for the lock backend by
        # holding the WRITER lock across a re-read + re-enforce AND the
        # manifest extends: add_constraint validates + publishes under
        # the same lock, so either it sees these files (and refuses the
        # constraint) or this append sees the constraint (and
        # re-enforces, rolling the moved files back on violation). The
        # re-enforce only triggers when the constraint set actually
        # changed; the residual CAS-backend window stays documented at
        # add_constraint. Lock ordering is store-lock -> blob-lock,
        # the documented safe order.
        with self._exclusive_lock():
            if self._table_constraints(table) != cons_at_enforce:
                try:
                    self._enforce_constraints(
                        table,
                        [
                            part / n
                            for part, ns in new_by_part.items()
                            for n in ns
                        ],
                        colmap,
                    )
                except ConstraintViolation:
                    for part, ns in new_by_part.items():
                        for n in ns:
                            (part / n).unlink(missing_ok=True)
                    raise
            self._append_extend_manifests(
                p, manifests, new_by_part, payload_schema, prior_schemas,
                colmap, dropped,
            )
        self._fire_commit_hooks(table)

    def _append_extend_manifests(
        self, p, manifests, new_by_part, payload_schema, prior_schemas,
        colmap, dropped,
    ) -> None:
        """append()'s manifest extends + first-manifest publishes,
        factored out so the caller can hold the writer lock across
        them (constraint-race fix above)."""
        for part in manifests:
            new_names = new_by_part.get(part)
            if not new_names:
                continue

            def extend(prior_m, part=part, new_names=new_names):
                """CAS-safe manifest extend: recomputed from the
                CURRENT snapshot on every attempt, so a concurrent
                append that won the race contributes its files instead
                of being clobbered (no lost update). Existing files'
                stats carry forward — only the appended files pay a
                footer read. If the manifest vanished meanwhile (a
                legacy replace_product dropped the partition to
                listing mode) the update aborts: listing mode already
                treats every on-disk file — including this append's —
                as live, and a fresh manifest naming only the new
                files would hide the rest."""
                if prior_m is None:
                    return None
                if prior_m.get("schema"):
                    merged = _merge_schemas(
                        _schema_from_json(prior_m["schema"]), payload_schema
                    )
                else:
                    merged = prior_schemas[part]
                names = prior_m["files"] + sorted(
                    n for n in new_names if n not in prior_m["files"]
                )
                return self._build_manifest_body(
                    part,
                    names,
                    prior_stats=prior_m.get("stats"),
                    schema_json=merged.json(),
                    prior_rows=prior_m.get("rows"),
                    product_seq=prior_m.get("product_seq"),
                    dv=prior_m.get("dv"),
                    colmap={**(prior_m.get("colmap") or {}), **colmap},
                    dropped_physical=prior_m.get("dropped_physical"),
                )

            self._update_manifest(part, extend)
        if colmap or dropped:
            # a column-mapped table must not grow LISTING-MODE
            # partitions: this append's files carry PHYSICAL names,
            # and with no manifest to hold the mapping the read-side
            # footer probe would merge the physical name into the
            # logical schema as a second column mapping onto the same
            # physical field (duplicate-column failure — review r9
            # wave-2 #1). First-manifest every partition this append
            # created; rename_column guarantees a mapped table had no
            # file-bearing listing partitions before, so the staged
            # names ARE the partition's content.
            for part, ns in new_by_part.items():
                if part == p or part in manifests or self._manifest(part) is not None:
                    continue
                self._write_committed(
                    part,
                    sorted(ns),
                    schema_json=payload_schema.json(),
                    colmap=colmap,
                    dropped_physical=sorted(dropped),
                )

    def _build_manifest_body(
        self,
        part_dir: Path,
        names: list[str],
        prior_stats: dict | None = None,
        schema_json: str | None = None,
        prior_rows: dict | None = None,
        product_seq: int | None = None,
        dv: dict | None = None,
        colmap: dict | None = None,
        dropped_physical: list | None = None,
    ) -> dict:
        """Assemble a manifest body (the snapshot content), carrying
        per-file zone maps, per-file row counts, per-file blooms for
        the table's declared ``bloom_cols``, and (when known) the
        partition's declared payload schema. Stats are harvested from
        each file's footer at commit time — one metadata read per NEW
        file (``prior_stats``/``prior_rows`` carry forward entries for
        files already profiled; bloom columns add one column-projected
        read per new file). A file whose stats can't be read simply
        gets no entry (kept by every predicate-bearing read, scanned
        by metadata-only counts — conservative, never wrong)."""
        # bloom_cols are configured in LOGICAL names; files (and the
        # stats/bloom keys probed by reads) carry PHYSICAL names —
        # translate, or a renamed key column silently loses its bloom
        # on every later harvest
        bloom_cols = [
            (colmap or {}).get(c, c)
            for c in self.bloom_cols.get(part_dir.parent.name, [])
        ]
        stats: dict[str, dict] = {}
        rows: dict[str, int] = {}
        for n in names:
            if prior_stats and n in prior_stats:
                entry = prior_stats[n]
                blooms = entry.get("__bloom__") or {}
                if bloom_cols and any("shape" not in b for b in blooms.values()):
                    # bloom persisted before shapes were recorded: the
                    # probe-side keep-on-unknown rule disables it, so
                    # re-harvest ONCE here (one projected read) and the
                    # healed entry carries forward ever after — without
                    # this, a pre-shape store loses all bloom skipping
                    # permanently (stats carry forward verbatim and
                    # fsck only heals files with NO stats entry)
                    entry = dict(entry)
                    fresh = _build_blooms(part_dir / n, bloom_cols)
                    if fresh:
                        entry["__bloom__"] = fresh
                    else:
                        entry.pop("__bloom__", None)
                stats[n] = entry
                if prior_rows and n in prior_rows:
                    rows[n] = prior_rows[n]
                continue
            st = _parquet_file_stats(part_dir / n)
            if st:
                stats[n], rows[n] = st
            if bloom_cols:
                blooms = _build_blooms(part_dir / n, bloom_cols)
                if blooms:
                    stats.setdefault(n, {})["__bloom__"] = blooms
        import time

        manifest: dict = {
            "files": names,
            "stats": stats,
            "rows": rows,
            "committed_at": time.time(),
        }
        if dv:
            # deletion-vector entries only for files still in the
            # snapshot: a rewritten/dropped file's mask dies with it
            kept_dv = {n: e for n, e in dv.items() if n in set(names)}
            if kept_dv:
                manifest["dv"] = kept_dv
        if colmap:
            # identity entries add nothing: drop them at every commit
            nonid = {k: v for k, v in colmap.items() if k != v}
            if nonid:
                manifest["colmap"] = nonid
        if dropped_physical:
            manifest["dropped_physical"] = sorted(set(dropped_physical))
        if schema_json is not None:
            manifest["schema"] = schema_json
        if product_seq is not None:
            manifest["product_seq"] = product_seq
        return manifest

    def _write_committed(
        self,
        part_dir: Path,
        names: list[str],
        prior_stats: dict | None = None,
        schema_json: str | None = None,
        prior_rows: dict | None = None,
        product_seq: int | None = None,
        dv: dict | None = None,
        colmap: dict | None = None,
        dropped_physical: list | None = None,
    ) -> None:
        """REPLACE-semantics manifest publish: the new file list
        supersedes whatever is current (restore — paths whose outcome
        does not depend on the prior snapshot, so a CAS conflict just
        re-stamps the same content at the next version)."""
        self._update_manifest(
            part_dir,
            lambda prior: self._build_manifest_body(
                part_dir, names, prior_stats, schema_json, prior_rows, product_seq,
                dv=dv, colmap=colmap, dropped_physical=dropped_physical,
            ),
        )

    # -- S11 + I2: idempotent product replace ------------------------------
    def replace_product(self, table: str, df: DataFrame, product_id: int) -> None:
        """Replace exactly one product's rows: write partitioned by
        product id with dynamic partition overwrite. The frame must
        carry PARTITION_COL (added here when absent). This legacy
        single-table path rewrites the partition dir in place (no
        snapshot for in-flight readers — use replace_product_all for
        the transactional publish); any manifest left from a previous
        transactional publish is dropped so the freshly-written files
        are live under listing mode."""
        p = Path(self._path(table))
        if p.exists():
            cmap, dropped = self._table_colmap(p)
            if cmap or dropped:
                # this legacy path drops the partition to LISTING mode —
                # no manifest, so nothing could carry the table's column
                # mapping and the renamed columns would silently null
                raise ValueError(
                    f"replace_product({table!r}): table carries a column "
                    "mapping (rename/drop history) — the manifest-less "
                    "legacy replace cannot preserve it; use "
                    "replace_product_all"
                )
        if PARTITION_COL not in df.columns:
            df = df.withColumn(PARTITION_COL, F.lit(product_id).cast("long"))
        # this path overwrites IN PLACE (no staging to discard), so
        # constraints must gate the INPUT frame — one scan of the
        # incoming data, before anything on disk is touched
        for name, spec in self._table_constraints(table).items():
            bad = df.filter(self._violation_expr(spec, df.columns)).limit(1).take(1)
            if bad:
                raise ConstraintViolation(
                    f"{table}: constraint {name!r} violated by incoming "
                    f"rows, e.g. {bad[0].asDict()}"
                )
        (
            df.write.mode("overwrite")
            .partitionBy(PARTITION_COL)
            .parquet(self._path(table))
        )
        self._backend.delete(
            Path(self._path(table)) / f"{PARTITION_COL}={product_id}", COMMITTED
        )
        self._fire_commit_hooks(table)

    def replace_product_each(self, product_id: int, frames: dict[str, DataFrame]) -> None:
        """``replace_product`` of several tables, each its own replace
        (no cross-table atomicity: that is ``replace_product_all``). The
        tables' writes run concurrently; their commit hooks fire on the
        calling thread, in ``frames`` order, after every write ends."""
        self._pool_map(
            lambda item: self.replace_product(item[0], item[1], product_id),
            list(frames.items()),
        )

    # -- I2 at cross-table scope: atomic multi-table product replace ------
    # The reference wraps its 6-table cascading DELETE + inserts in one
    # RDBMS transaction (reference scdb.py:51–71). On a filesystem the
    # same guarantee comes from write-ahead intent + roll-forward:
    #
    #   1. STAGE   every table's new partition payload under
    #              _staging/txn_{pid}/<table>/ (no live dir touched),
    #              the tables' writes running concurrently; a failed
    #              write discards the whole txn dir;
    #   2. INTENT  write MANIFEST.json into the txn dir via tmp+rename
    #              (the atomic commit point);
    #   3. PUBLISH swap each table's IndicatorThemeId={pid} dir for the
    #              staged one.
    #
    # A crash before (2) leaves the live tables untouched (recover()
    # discards the orphan staging dir -> all-OLD). A crash after (2)
    # is completed by recover() on the next store open (roll-forward
    # -> all-NEW). Readers opening the store never observe a mix.
    # In-flight readers during PUBLISH are covered by manifest
    # indirection: staged files move into the partition dir under
    # their (UUID-unique) names, then the partition's _committed.json
    # swaps atomically — a reader whose plan resolved the old manifest
    # keeps scanning the old files, which stay on disk until vacuum().
    def _claim_product_seq(self, product_id: int) -> int:
        """CAS-claimed, strictly increasing per-product transaction
        sequence — the optimistic concurrency token for cross-table
        replaces. Two concurrent writers replacing the SAME product
        claim distinct seqs; every partition-manifest swap then refuses
        to replace content carrying a NEWER seq, so whatever tables the
        loser manages to publish are re-superseded by the winner and
        the store converges to ONE writer's version across all tables —
        never a torn mix."""
        from .commit import cas_update

        body = cas_update(
            self._backend, Path(self.root) / "_pseq", f"{product_id}.json",
            lambda prior: {},
        )
        return body["version"]

    def replace_product_all(
        self, product_id: int, frames: dict[str, DataFrame]
    ) -> None:
        import uuid

        with self._exclusive_lock():
            seq = self._claim_product_seq(product_id)
            # unique txn dir per attempt: concurrent same-product
            # writers (lock-free CAS backend) must not stomp each
            # other's staging
            txn = Path(self.root) / "_staging" / f"txn_{product_id}_{seq}_{uuid.uuid4().hex[:8]}"
            txn.mkdir(parents=True)
            # sentinel: spare this manifest-less dir from a concurrent
            # recover() while the (unlocked under CAS) staging writes
            # run; heartbeat so long stagings aren't mistaken for crashes
            sentinel = txn / "_INFLIGHT"
            sentinel.write_text("")
            schemas: dict[str, str] = {}
            colmaps: dict[str, dict] = {}
            droppeds: dict[str, list] = {}
            payloads: dict[str, DataFrame] = {}
            for table, df in frames.items():
                if PARTITION_COL in df.columns:
                    df = df.drop(PARTITION_COL)
                # the frame arrives LOGICAL; the TABLE-level column
                # mapping must survive a single-partition replace
                # (other partitions' files still resolve through
                # it — writing this partition's files under the
                # logical names while the union colmap maps them
                # elsewhere would silently null the renamed column
                # here), so the shared write-side rule applies and
                # the mapping rides the txn manifest into the swap
                tdir = Path(self._path(table))
                cmap, dropped = (
                    self._table_colmap(tdir) if tdir.exists() else ({}, set())
                )
                schemas[table] = df.schema.json()  # LOGICAL
                payloads[table], cmap = _translate_payload(df, cmap, dropped)
                if cmap:
                    colmaps[table] = {k: v for k, v in cmap.items() if k != v}
                if dropped:
                    droppeds[table] = sorted(dropped)
            # constraints verify against the STAGED files — before the
            # MANIFEST commit point, so neither this publish nor a
            # crash-recovery roll-forward can ever move violating rows
            # live; the whole txn dir is discarded on violation, and on
            # a failed staging write
            try:
                with self._inflight_keepalive(sentinel):
                    # payload files exclude the partition column, exactly
                    # like a partitioned write's IndicatorThemeId={pid} dir
                    self._pool_map(
                        lambda item: item[1].write.parquet(str(txn / item[0])),
                        list(payloads.items()),
                    )
                for table in frames:
                    self._enforce_constraints(
                        table,
                        sorted((txn / table).glob("*.parquet")),
                        colmaps.get(table) or {},
                    )
            except BaseException:
                import shutil

                shutil.rmtree(txn, ignore_errors=True)
                raise
            manifest = {
                "product_id": product_id,
                "seq": seq,
                "tables": sorted(frames),
                # captured at commit time so a redo after a mid-publish
                # crash knows exactly which target files belong to this
                # txn (some may already have moved out of staging)
                "files": {
                    t: sorted(f.name for f in (txn / t).glob("*.parquet"))
                    for t in frames
                },
                # declared payload schema per table: a replace RESETS the
                # partition's schema to the new frames' (old files are
                # superseded, so no union with history) — but the
                # table-level column mapping and retired names carry
                "schemas": schemas,
                "colmaps": colmaps,
                "droppeds": droppeds,
            }
            tmp = txn / "MANIFEST.json.tmp"
            tmp.write_text(json.dumps(manifest))
            tmp.rename(txn / "MANIFEST.json")          # commit point
            self._publish(txn, manifest)
        for t in manifest["tables"]:
            self._fire_commit_hooks(t)

    def _publish(self, txn: Path, manifest: dict, fail_after: int | None = None) -> None:
        """Move each table's staged files into its partition dir, then
        atomically swap that partition's _committed.json to the new file
        list. Idempotent: a redo re-moves whatever is still staged and
        rewrites the same manifests. Caller holds the store lock (or is
        a test driving the crash hook). ``fail_after`` simulates a crash
        after N tables are published."""
        import shutil

        pid = manifest["product_id"]
        if "files" not in manifest:
            # manifest from an older layout (or hand-built in tests):
            # amend it with the staged file lists before touching any
            # live dir, so a crash mid-publish still leaves a redo-able
            # record of which files are this txn's
            manifest["files"] = {
                t: sorted(f.name for f in (txn / t).glob("*.parquet"))
                for t in manifest["tables"]
                if (txn / t).exists()
            }
            tmp = txn / "MANIFEST.json.tmp"
            tmp.write_text(json.dumps(manifest))
            tmp.rename(txn / "MANIFEST.json")
        seq = manifest.get("seq")
        for n, table in enumerate(manifest["tables"]):
            if fail_after is not None and n >= fail_after:
                raise RuntimeError(f"simulated crash after {fail_after} swaps")
            names = manifest["files"].get(table, [])
            if not names:
                continue
            target = Path(self._path(table)) / f"{PARTITION_COL}={pid}"
            target.mkdir(parents=True, exist_ok=True)
            for name in names:
                src = txn / table / name
                if src.exists():
                    try:
                        src.rename(target / name)
                    except FileNotFoundError:
                        pass                       # concurrent recover won

            def swap(prior, target=target, names=names, table=table):
                """Replace-swap guarded by the product txn seq: if the
                current manifest was produced by a NEWER same-product
                transaction, this (stale) txn must not clobber it — the
                swap aborts and the newer writer's state stands on
                every table (no torn cross-table mix)."""
                if (
                    prior is not None
                    and seq is not None
                    and int(prior.get("product_seq", -1)) > seq
                ):
                    return None
                return self._build_manifest_body(
                    target,
                    names,
                    schema_json=manifest.get("schemas", {}).get(table),
                    product_seq=seq,
                    colmap=manifest.get("colmaps", {}).get(table),
                    dropped_physical=manifest.get("droppeds", {}).get(table),
                )

            self._update_manifest(target, swap)    # snapshot point
        shutil.rmtree(txn, ignore_errors=True)  # racer may have cleaned up

    # -- exactly-once streaming epochs ------------------------------------
    # foreachBatch can REPLAY a micro-batch after a failure (the
    # checkpoint only guarantees at-least-once delivery to the sink);
    # exactly-once therefore needs an idempotent sink. Epoch appends
    # ride the same write-ahead txn machinery as replace_product_all:
    # stage -> MANIFEST rename (commit point, carrying stream + batch
    # id) -> publish EXTENDS the partition manifests (idempotent: file
    # moves skip already-moved files, name lists dedupe) -> the epoch
    # ledger (_epochs.json, tmp+rename) records the batch LAST, then
    # staging is removed. A replay of a ledger-recorded batch is a
    # no-op before it stages anything; a crash at any point either
    # rolls back (no manifest) or rolls forward (recover() completes
    # the publish and the ledger entry) — rows land exactly once.

    @staticmethod
    def _ledger_streams(body: dict | None) -> dict:
        """High-water map out of a ledger body — including the LEGACY
        flat ``{stream: batch}`` layout written before the ledger moved
        behind the commit backend (dropping those records would turn
        every replay on an upgraded store into a duplicate append)."""
        if not body:
            return {}
        if "streams" in body:
            return dict(body["streams"])
        return {k: v for k, v in body.items() if k != "version"}

    def _epoch_ledger(self) -> dict:
        """O(streams) by construction: one high-water batch id per
        stream (replays are monotone), NOT one entry per micro-batch —
        the ledger's size is bounded by the number of distinct writers,
        never by stream lifetime (pytest-pinned)."""
        cur = self._backend.read(Path(self.root), EPOCHS)
        return self._ledger_streams(cur[1] if cur else None)

    def _claim_epoch(self, stream_id: str, batch_id: int, txn_name: str) -> bool:
        """THE exactly-once arbiter: atomically advance the stream's
        high-water to ``batch_id`` AND record which txn owns it. The
        CAS write admits exactly one winner per (stream, batch) even
        on the lock-free backend — a replayer that stages concurrently
        loses the claim, discards its own staging, and never publishes.
        Returns True iff ``txn_name`` owns the batch (a re-entrant
        check from recover() also lands here)."""
        from .commit import cas_update

        def advance(prior):
            streams = self._ledger_streams(prior)
            txns = dict((prior or {}).get("txns", {}))
            if int(batch_id) <= int(streams.get(stream_id, -1)):
                return None  # already claimed: ownership decided below
            streams[stream_id] = int(batch_id)
            txns[stream_id] = txn_name
            return {"streams": streams, "txns": txns}

        body = cas_update(self._backend, Path(self.root), EPOCHS, advance)
        if body is not None:
            return True
        cur = self._backend.read(Path(self.root), EPOCHS)
        streams = self._ledger_streams(cur[1] if cur else None)
        txns = (cur[1] if cur else {}).get("txns", {})
        return (
            int(streams.get(stream_id, -1)) == int(batch_id)
            and txns.get(stream_id) == txn_name
        )

    def _record_epoch(self, stream_id: str, batch_id: int) -> None:
        """High-water max-merge (idempotent; keeps the txn-owner map):
        retained for roll-forwards of txns that predate claims and for
        hand-built test txns — the claim above already records normal
        appends."""
        from .commit import cas_update

        def merge(prior):
            streams = self._ledger_streams(prior)
            hw = max(int(batch_id), int(streams.get(stream_id, -1)))
            if streams.get(stream_id) == hw and prior and "streams" in prior:
                return None  # already current
            streams[stream_id] = hw
            return {"streams": streams, "txns": dict((prior or {}).get("txns", {}))}

        cas_update(self._backend, Path(self.root), EPOCHS, merge)

    def append_epoch(
        self, stream_id: str, batch_id: int, table: str, df: DataFrame
    ) -> bool:
        """Idempotent micro-batch append: returns False (no-op) when
        ``batch_id`` is already recorded for ``stream_id`` — the replay
        case — else stages, commits, and publishes the batch through
        the manifest protocol. Structured Streaming batch ids are
        monotonic per query, which is what the ledger's high-water
        check relies on. Readers get the same snapshot isolation as a
        publish: rows become visible at the atomic manifest swap.

        LOCK SCOPE + ARBITRATION: the Spark staging write — by far the
        longest part of the batch — runs OUTSIDE the store lock, into
        a staging dir uniquely named PER ATTEMPT (two concurrent
        writers of the same batch can never stomp each other's files).
        Exactly-once is decided by ``_claim_epoch``: after the MANIFEST
        commit rename, the attempt CAS-claims (stream, batch) in the
        ledger — exactly one winner even on the lock-free CAS backend;
        a loser discards its own staging and returns False without
        publishing. The store lock is then taken only for the publish
        itself; the unlocked pre-check just short-circuits obvious
        replays before paying the staging write."""
        import shutil
        import uuid

        cur = self._backend.read(Path(self.root), EPOCHS)
        ledger_body = cur[1] if cur else None
        if int(batch_id) <= int(
            self._ledger_streams(ledger_body).get(stream_id, -1)
        ):
            # replay fast-path — but "already claimed" must also mean
            # "visible": if the claimed winner crashed between claim
            # and publish, roll its committed staging forward NOW (a
            # long-lived store handle never re-runs recover(), so a
            # False return here is this path's only chance to make the
            # batch's rows appear before the stream moves on). The
            # just-read ledger body rides along (replays are the hot
            # path during streaming recovery — one read, not two).
            self._complete_claimed_epoch(stream_id, ledger_body)
            return False
        payload_schema = (
            df.drop(PARTITION_COL).schema if PARTITION_COL in df.columns else df.schema
        )
        # column mapping: same shared write-side rule as append()
        # (the batch arrives logical; files carry physical names)
        table_dir = Path(self._path(table))
        ep_colmap, ep_dropped = (
            self._table_colmap(table_dir) if table_dir.exists() else ({}, set())
        )
        df, ep_colmap = _translate_payload(df, ep_colmap, ep_dropped)
        txn = (
            Path(self.root)
            / "_staging"
            / f"etxn_{stream_id}_{batch_id}_{uuid.uuid4().hex[:8]}"
        )
        txn.mkdir(parents=True)
        # sentinel: this manifest-less staging dir is live (being
        # written OUTSIDE the lock) — a concurrent recover() must not
        # roll it back unless the sentinel has gone stale (crashed
        # writer, see recover()'s grace window); heartbeat it so a
        # LONG batch write is never mistaken for a crash
        sentinel = txn / "_INFLIGHT"
        sentinel.write_text("")
        # the keepalive spans the WHOLE pre-commit staged lifetime —
        # Spark write, file listing, constraint verify (which can
        # scan), and the MANIFEST rename: the verify on a big batch is
        # exactly the 100 TB case that outlives INFLIGHT_GRACE_SECONDS,
        # and a concurrent recover() would rmtree the live txn mid-
        # verify if the sentinel stopped beating after the write
        # (ADVICE r10). Once MANIFEST.json lands, recover() rolls the
        # txn FORWARD instead of back, so the heartbeat can stop.
        with self._inflight_keepalive(sentinel):
            w = df.write
            if PARTITION_COL in df.columns:
                w = w.partitionBy(PARTITION_COL)
            w.parquet(str(txn / table))
            files: dict[str, list[str]] = {}
            tdir = txn / table
            parts = sorted(d.name for d in tdir.glob(f"{PARTITION_COL}=*"))
            if parts:
                for d in parts:
                    files[d] = sorted(
                        f.name for f in (tdir / d).glob("*.parquet")
                    )
            else:
                files["."] = sorted(f.name for f in tdir.glob("*.parquet"))
            manifest = {
                "mode": "append",
                "stream_id": stream_id,
                "batch_id": int(batch_id),
                "table": table,
                "files": files,
                # declared schema stays LOGICAL; the mapping that was
                # used to write the staged files rides along
                "schema": payload_schema.json(),
            }
            if ep_colmap:
                manifest["colmap"] = {
                    k: v for k, v in ep_colmap.items() if k != v
                }
            # constraints gate the staged files BEFORE the claim:
            # claiming first would wedge the (stream, batch) slot —
            # the retry's replay path rolls the CLAIMED violating
            # staging forward and re-raises forever, and a recovery at
            # store open would hit the same wall. Pre-claim, a
            # violation just discards this attempt; nothing is
            # claimed, nothing published.
            try:
                staged = []
                for part_name, names in files.items():
                    src = tdir if part_name == "." else tdir / part_name
                    staged += [src / n for n in names]
                self._enforce_constraints(table, staged, ep_colmap)
            except ConstraintViolation:
                shutil.rmtree(txn, ignore_errors=True)
                raise
            tmp = txn / "MANIFEST.json.tmp"
            tmp.write_text(json.dumps(manifest))
            tmp.rename(txn / "MANIFEST.json")          # commit-ready
        if not self._claim_epoch(stream_id, int(batch_id), txn.name):
            # lost the race: discard OWN staging (a concurrent
            # recover() may already have — tolerate), and make sure
            # the winner's rows are visible if it crashed pre-publish
            shutil.rmtree(txn, ignore_errors=True)
            self._complete_claimed_epoch(stream_id)
            return False
        with self._exclusive_lock():                   # claimed: publish
            self._publish_epoch(txn, manifest)
        self._fire_commit_hooks(table)
        return True

    def _complete_claimed_epoch(
        self, stream_id: str, ledger_body: dict | None = None
    ) -> None:
        """Roll forward the stream's CLAIMED txn if its staging is
        still on disk with a committed MANIFEST — the crashed-between-
        claim-and-publish window. Idempotent (publish skips moved
        files, manifest extends dedupe), safe to race with the live
        winner's own publish. Callers that just read the ledger pass
        its body along to save a round-trip."""
        if ledger_body is None:
            cur = self._backend.read(Path(self.root), EPOCHS)
            ledger_body = cur[1] if cur else {}
        owner = (ledger_body.get("txns", {}) or {}).get(stream_id)
        if not owner:
            return
        txn = Path(self.root) / "_staging" / owner
        mf = txn / "MANIFEST.json"
        if not mf.exists():
            return
        try:
            manifest = json.loads(mf.read_text())
        except (OSError, json.JSONDecodeError):
            return  # racer finished and removed it mid-read
        with self._exclusive_lock():
            if mf.exists():
                self._publish_epoch(txn, manifest)

    def _footer_schema(self, path: Path):
        """One file's payload schema — through the session when this
        is a TableStore, via pyarrow when borrowed by the Spark-free
        ``StoreMeta`` (the streaming sink's commit hook runs in a
        worker process with no session at all)."""
        spark = getattr(self, "spark", None)
        if spark is not None:
            return spark.read.parquet(str(path)).schema
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(pq.ParquetFile(str(path)).schema_arrow)

    def _publish_epoch(
        self, txn: Path, manifest: dict, fail_after: int | None = None
    ) -> None:
        """Roll an epoch txn forward: move staged files into the live
        partition dirs, EXTEND each partition's manifest (deduped, so a
        redo after a crash converges), record the ledger entry, drop
        the staging dir. Idempotent end to end; caller holds the lock
        (or is a test driving the crash hook)."""
        import shutil

        table = manifest["table"]
        for n_done, (part_name, names) in enumerate(sorted(manifest["files"].items())):
            if fail_after is not None and n_done >= fail_after:
                raise RuntimeError(f"simulated crash after {fail_after} partitions")
            if part_name == ".":
                target = Path(self._path(table))
                src_dir = txn / table
            else:
                target = Path(self._path(table)) / part_name
                src_dir = txn / table / part_name
            target.mkdir(parents=True, exist_ok=True)
            for name in names:
                src = src_dir / name
                if src.exists():
                    try:
                        src.rename(target / name)
                    except FileNotFoundError:
                        pass                       # concurrent recover won
            if part_name == ".":
                continue  # unpartitioned root appends stay listing-mode

            def epoch_extend(prior, target=target, names=names):
                """Extend the current manifest with this batch's files
                (CAS-safe: recomputed per attempt, deduped so a redo
                after a crash converges). First manifest over a
                listing-mode partition: everything on disk is live
                (legacy history) plus the batch, and the declared
                schema must UNION one legacy file's footer schema with
                the batch's (mirroring append()) — declaring only the
                batch schema would silently drop columns that exist
                solely in the legacy files, and a same-name type
                conflict should fail loud here, not at scan time."""
                if prior is not None:
                    merged = prior["files"] + [
                        n for n in names if n not in prior["files"]
                    ]
                    prior_schema = (
                        _merge_schemas(
                            _schema_from_json(prior["schema"]),
                            _schema_from_json(manifest["schema"]),
                        ).json()
                        if prior.get("schema")
                        else manifest["schema"]
                    )
                    return self._build_manifest_body(
                        target,
                        merged,
                        prior_stats=prior.get("stats"),
                        schema_json=prior_schema,
                        prior_rows=prior.get("rows"),
                        product_seq=prior.get("product_seq"),
                        dv=prior.get("dv"),
                        colmap={
                            **(prior.get("colmap") or {}),
                            **(manifest.get("colmap") or {}),
                        },
                        dropped_physical=prior.get("dropped_physical"),
                    )
                existing = sorted(
                    f.name for f in target.glob("*.parquet") if f.name not in names
                )
                declared = _schema_from_json(manifest["schema"])
                if existing:
                    legacy = self._footer_schema(target / existing[0])
                    declared = _merge_schemas(legacy, declared)
                return self._build_manifest_body(
                    target, existing + names, schema_json=declared.json(),
                    colmap=manifest.get("colmap"),
                )

            self._update_manifest(target, epoch_extend)
        self._record_epoch(manifest["stream_id"], manifest["batch_id"])
        shutil.rmtree(txn, ignore_errors=True)  # racer may have cleaned up

    INFLIGHT_GRACE_SECONDS = 3600.0

    @contextmanager
    def _inflight_keepalive(self, sentinel: Path):
        """Heartbeat the ``_INFLIGHT`` sentinel while an unlocked
        staging write runs: recover()'s staleness test distinguishes
        crashed from slow only if a LIVE writer keeps the mtime fresh —
        a batch write longer than the grace window is exactly the
        100 TB case, and without the heartbeat a concurrent recover()
        would destroy the live txn mid-write."""
        import os
        import threading

        stop = threading.Event()

        def beat():
            while not stop.wait(self.INFLIGHT_GRACE_SECONDS / 4):
                try:
                    os.utime(sentinel)
                except OSError:
                    return  # txn dir gone: nothing left to protect

        t = threading.Thread(target=beat, daemon=True)
        t.start()
        try:
            yield
        finally:
            stop.set()
            t.join(timeout=5)

    def recover(self) -> None:
        """Complete (roll forward) any committed-but-unpublished
        transaction — replace or epoch-append; discard (roll back) any
        uncommitted staging. Exclusive-locked: concurrent store opens
        serialize here instead of double-publishing. A manifest-less
        staging dir carrying a FRESH ``_INFLIGHT`` sentinel belongs to
        a writer currently staging OUTSIDE the lock (append_epoch's
        unlocked batch write) and is left alone; the sentinel going
        stale (> INFLIGHT_GRACE_SECONDS) marks a crashed writer and
        the dir is rolled back as before."""
        import shutil
        import time

        staging = Path(self.root) / "_staging"
        if not staging.exists():
            return
        with self._exclusive_lock():
            if not staging.exists():
                return
            for txn in staging.iterdir():
                if not txn.is_dir():
                    continue
                mf = txn / "MANIFEST.json"
                if not mf.exists():
                    sentinel = txn / "_INFLIGHT"
                    if (
                        sentinel.exists()
                        and time.time() - sentinel.stat().st_mtime
                        < self.INFLIGHT_GRACE_SECONDS
                    ):
                        continue               # live unlocked stage
                    shutil.rmtree(txn)
                    continue
                manifest = json.loads(mf.read_text())
                if manifest.get("mode") == "append":
                    # claim-gated roll-forward: publish only the txn
                    # that OWNS its (stream, batch) — a crashed
                    # duplicate attempt (staged + committed but beaten
                    # to the claim) is discarded, never double-applied
                    sid = manifest["stream_id"]
                    b = int(manifest["batch_id"])
                    hw = int(self._epoch_ledger().get(sid, -1))
                    if b > hw:
                        # crashed after MANIFEST, before claiming: try
                        # to claim now (exactly one of several such
                        # duplicates wins)
                        owned = self._claim_epoch(sid, b, txn.name)
                    elif b == hw:
                        cur = self._backend.read(Path(self.root), EPOCHS)
                        owner = ((cur[1] if cur else {}).get("txns", {})).get(sid)
                        # owner None = ledger predates claims (legacy
                        # layout / hand-built txn): publish — extends
                        # dedupe by file name, so a redo converges
                        owned = owner in (None, txn.name)
                    else:
                        owned = False  # superseded batch
                    if owned:
                        self._publish_epoch(txn, manifest)
                    else:
                        shutil.rmtree(txn, ignore_errors=True)
                else:
                    self._publish(txn, manifest)

    #: Age floor for files referenced by NOTHING (not live, not in any
    #: history entry, not in a staged txn manifest) — the only files
    #: that can be a mid-flight publish's renamed-but-not-yet-swapped
    #: data when the staging scan raced the txn's commit point. On the
    #: lock-free CAS backend the store lock is a no-op, so this grace
    #: (not the lock) is what makes vacuum(0) safe against a publish
    #: that starts after the scan. Superseded files (in journal
    #: history) are never mid-flight and GC on the supersede-time
    #: retention gate instead (see vacuum's `recent` set).
    VACUUM_UNKNOWN_GRACE_SECONDS = 300.0

    def _staged_txn_files(self) -> set[str]:
        """File names referenced by any in-flight staged transaction's
        committed MANIFEST — a publish moves exactly these (uuid-unique
        names) into live partition dirs BEFORE its manifest swap lists
        them, so GC must not touch them. Torn/missing manifests (txn
        not yet committed: no file has moved) contribute nothing."""
        protected: set[str] = set()
        staging = Path(self.root) / "_staging"
        if not staging.exists():
            return protected
        for txn in staging.iterdir():
            try:
                m = json.loads((txn / "MANIFEST.json").read_text())
            except (OSError, json.JSONDecodeError):
                continue
            for names in (m.get("files") or {}).values():
                protected.update(names)
        return protected

    def vacuum(
        self,
        table: str | None = None,
        older_than_seconds: float = 0.0,
        prune_history: bool = False,
    ) -> int:
        """Garbage-collect previous-version data files: in every
        manifest-bearing partition, delete parquet files NOT in the
        committed manifest and older than the retention window. Run
        out-of-band (the analog of a table format's VACUUM) once no
        reader still holds a plan over the superseded snapshot.
        Returns the number of files removed. Takes the store lock; on
        the POSIX backend that serializes against publishes outright.

        MAINTENANCE-vs-WRITER SAFETY ON THE LOCK-FREE (CAS) BACKEND:
        the lock is a no-op there, and a publish mid-flight has moved
        files into the partition dir that its manifest swap has not
        yet listed — unguarded GC would eat them. Two guards close
        that window without a lock: (1) every file named by a staged
        txn's committed MANIFEST is skipped (the commit point precedes
        the first rename, so a mid-publish txn is always listable);
        (2) files referenced by NOTHING — not live, not journal
        history, not a staged txn (possible only when the staging
        scan raced a txn's commit) — get an age floor of
        ``VACUUM_UNKNOWN_GRACE_SECONDS`` on top of the caller's
        window, mirroring fsck-repair's unknown-leftover gate.

        RETENTION CONTRACT (pytest-pinned): an in-flight reader whose
        plan resolved a superseded manifest keeps scanning the old
        files, so ``older_than_seconds`` must exceed the longest
        reader's runtime. The window gates on SUPERSEDE time, not the
        file's write mtime: a file is deletable only once every
        journal snapshot that listed it has been superseded for longer
        than the window (a file written hours ago but replaced a
        second ago is inside every current reader's snapshot and
        survives). ``older_than_seconds=0`` is only safe when no
        reader holds a superseded snapshot; after it runs, a stale
        plan points at deleted files and fails on next execution (the
        same contract as Delta/Iceberg VACUUM retention).

        ``prune_history=True`` additionally drops journal entries
        older than the same window (always keeping each partition's
        LATEST entry), bounding the metadata journal the same way the
        data files are bounded: a snapshot outside retention cannot be
        materialized by ``read_at`` anyway (its data files are gone),
        so its journal entry served only time-travel/CDF windows that
        the retention contract already forecloses — Delta's log
        retention, same reasoning."""
        import time

        cutoff = time.time() - older_than_seconds
        removed = 0
        tables = [table] if table else PRODUCT_TABLES
        with self._exclusive_lock():
            protected = self._staged_txn_files()
            for t in tables:
                p = Path(self._path(t))
                if not p.exists():
                    continue
                for part in p.glob(f"{PARTITION_COL}=*"):
                    # ONE journal read per partition, taken BEFORE this
                    # call's own pruning, drives both GC classifications:
                    # - historical: referenced by ANY entry (vs unknown)
                    # - recent: referenced by an entry that was still
                    #   the CURRENT snapshot at some instant inside the
                    #   retention window (an entry is authoritative from
                    #   its commit until its successor's commit, so its
                    #   files stay protected until the SUCCESSOR ages
                    #   past the cutoff). Retention must gate on this
                    #   SUPERSEDE time, not the file's write mtime: a
                    #   file written hours ago but superseded a second
                    #   ago is still inside every in-flight reader's
                    #   snapshot window.
                    bodies = list(self._history_entries(part))
                    historical: set[str] = set()
                    recent: set[str] = set()
                    for m, nxt in zip(bodies, bodies[1:] + [None]):
                        files = set(m.get("files", []))
                        # deletion-vector sidecars GC under the same
                        # supersede-time retention as data files: a
                        # superseded mask still serves read_at/CDF
                        # windows inside the retention contract
                        files |= {
                            e["sidecar"] for e in (m.get("dv") or {}).values()
                        }
                        historical |= files
                        end = (
                            nxt.get("committed_at", 0)
                            if nxt is not None
                            else float("inf")
                        )
                        if end > cutoff:
                            recent |= files
                    if prune_history:
                        # an entry is the AUTHORITATIVE snapshot until
                        # its successor's commit, so E_i is prunable
                        # only when the NEXT entry is itself older than
                        # the window (pruning by E_i's own timestamp
                        # would delete the snapshot that was current
                        # moments ago and corrupt read_at / read_changes
                        # baselines). A tombstone records how far the
                        # journal was truncated so time-travel/CDF/
                        # restore refuse clearly instead of silently
                        # resolving to nothing.
                        # same listing rule as _history_entries: names
                        # starting with '_' are NOT journal entries. A
                        # crashed _append_history leftover (_tmp-*.json
                        # sorts AFTER every real entry) must never act
                        # as an entry's "successor" — that would let
                        # the partition's genuine latest entry be
                        # unlinked, breaking the keep-latest invariant
                        # read_at/read_changes baselines rely on. Stale
                        # tmp leftovers are GC'd here instead.
                        hist = []
                        for hf in sorted((part / "_history").glob("*.json")):
                            if hf.name.startswith("_"):
                                # GC only STALE tmp leftovers: a LIVE
                                # writer sits between write_text and
                                # rename for milliseconds, and no lock
                                # covers the journal append on the CAS
                                # backend — the same grace floor the
                                # data-file GC applies to possible
                                # mid-publish files protects it here
                                try:
                                    stale = (
                                        time.time() - hf.stat().st_mtime
                                        > self.VACUUM_UNKNOWN_GRACE_SECONDS
                                    )
                                except FileNotFoundError:
                                    continue  # live writer just renamed it
                                if hf.name.startswith("_tmp-") and stale:
                                    hf.unlink(missing_ok=True)
                                continue
                            hist.append(hf)
                        entries = []
                        for hf in hist:
                            try:
                                entries.append(
                                    (hf, json.loads(hf.read_text()))
                                )
                            except (OSError, json.JSONDecodeError):
                                entries.append((hf, None))
                        pruned_to = None
                        for (hf, m), (_, nxt) in zip(entries, entries[1:]):
                            if nxt is None:
                                continue
                            if nxt.get("committed_at", 0) <= cutoff:
                                hf.unlink(missing_ok=True)
                                pruned_to = nxt.get("committed_at", 0)
                            else:
                                break
                        if pruned_to is not None:
                            tomb = part / "_history" / "_pruned_until"
                            prev = (
                                float(tomb.read_text())
                                if tomb.exists()
                                else 0.0
                            )
                            tomb.write_text(str(max(prev, pruned_to)))
                    manifest = self._manifest(part)
                    if manifest is None:
                        continue
                    live = set(manifest["files"]) | {
                        e["sidecar"]
                        for e in (manifest.get("dv") or {}).values()
                    }
                    import itertools

                    for f in itertools.chain(
                        part.glob("*.parquet"),
                        part.glob("dv-*.bin"),
                        part.glob("_tmp-dv-*.bin"),
                    ):
                        if f.name.startswith("_tmp-dv-"):
                            # crashed sidecar write: never referenced,
                            # reclaim under the same grace floor that
                            # protects a LIVE writer's tmp+rename gap
                            try:
                                if (
                                    time.time() - f.stat().st_mtime
                                    > self.VACUUM_UNKNOWN_GRACE_SECONDS
                                ):
                                    f.unlink(missing_ok=True)
                            except FileNotFoundError:
                                pass
                            continue
                        if (
                            f.name in live
                            or f.name in protected
                            or f.name in recent
                        ):
                            continue
                        try:
                            age = time.time() - f.stat().st_mtime
                        except FileNotFoundError:
                            continue  # concurrent GC won the race
                        if f.name in historical:
                            # superseded outside the window (not in
                            # `recent`): the supersede-time gate above
                            # is the retention check — unlink
                            pass
                        elif (
                            age < self.VACUUM_UNKNOWN_GRACE_SECONDS
                            or age < older_than_seconds
                        ):
                            continue  # possible mid-publish rename: keep
                        try:
                            f.unlink()
                            removed += 1
                        except FileNotFoundError:
                            pass
                    # stale per-partition staging leftovers from crashed
                    # merge/delete/compact rewrites (data written but
                    # never renamed in): no manifest references them and
                    # the top-level *.parquet GC never descends, so
                    # without this they accumulate forever. Tree-max
                    # mtime + the grace floor spares a LIVE rewrite
                    # (its write keeps touching files).
                    for pat in ("_merge_*", "_delete_*", "_update_*", "_compact_*"):
                        for d in part.glob(pat):
                            self._gc_stale_staging(d)
        # streaming-sink staging (root-level): a crashed query's staged
        # task files are referenced by nothing once its attempt died.
        # Unlike the in-partition rewrite dirs there is no heartbeat
        # here (each executor task writes once and exits), so the
        # grace is the INFLIGHT window, not the 300 s unknown-file
        # one — a micro-batch with straggler tasks must not lose its
        # early-staged files to a concurrent vacuum (review r10).
        for d in (Path(self.root) / "_sink_staging").glob("*"):
            self._gc_stale_staging(d, grace=self.INFLIGHT_GRACE_SECONDS)
        return removed

    def _gc_stale_staging(self, d: Path, grace: float | None = None) -> None:
        """Remove a crashed rewrite's in-partition staging dir once its
        newest mtime (dir or any contained file) has aged past the
        grace window — a live writer's ongoing Spark write keeps the
        tree fresh, so only genuinely dead staging is reclaimed.
        Callers without a liveness signal pass a longer ``grace``."""
        import shutil
        import time

        if not d.is_dir():
            return
        try:
            newest = d.stat().st_mtime
            for f in d.rglob("*"):
                try:
                    newest = max(newest, f.stat().st_mtime)
                except FileNotFoundError:
                    return  # being actively mutated: not stale
        except FileNotFoundError:
            return
        if time.time() - newest > (
            self.VACUUM_UNKNOWN_GRACE_SECONDS if grace is None else grace
        ):
            shutil.rmtree(d, ignore_errors=True)

    def compact(
        self,
        table: str | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: str | list[str] | None = None,
        partitions: list[str] | None = None,
    ) -> int:
        """Rewrite fragmented manifest-bearing partitions into
        ~``target_file_bytes`` files (the Delta/Iceberg OPTIMIZE
        analog). Every ``append`` extends a partition's manifest by at
        least one file, so a hot partition fragments over time — and at
        scale a scan over thousands of small files pays task-scheduling
        and footer-read overhead per file. Compaction reads the live
        file list, rewrites it at target size, and ATOMICALLY swaps the
        manifest — in-flight readers keep scanning the superseded files
        (same snapshot semantics as a publish; ``vacuum`` GCs them
        under the retention contract). Only manifest-bearing partitions
        are compacted: listing-mode partitions have no snapshot
        indirection, so a rewrite there couldn't be atomic for readers.

        Returns the number of partitions compacted. A partition is
        skipped when its live file count is already within the target
        (``ceil(total_bytes / target)``), so repeated calls are cheap
        no-ops. Takes the store lock (like vacuum) so a concurrent
        publish can't interleave with the manifest swap.

        ``sort_by`` additionally CLUSTERS the rewrite: a single column
        range-clusters directly (``repartitionByRange`` +
        ``sortWithinPartitions``); a LIST of 2+ columns clusters on the
        interleaved-bit Z-order key (see ``_zorder_key``) so the zone
        maps stay tight on EVERY listed column — the OPTIMIZE ZORDER
        analog for the web workload's two-predicate reads (RefDate AND
        GeographicLevelId). Either way each output file covers a
        narrow value region, a later ``read(where=...)`` skips every
        non-covering file, and the row-group sort also sharpens
        parquet's own page/row-group skipping for scans that bypass
        the manifests. With ``sort_by`` set, any multi-file partition
        is rewritten (clustering is the point, not just file count).

        CAS-safety: the manifest swap keeps any file a CONCURRENT
        append committed between our snapshot read and the swap — the
        rewrite replaces exactly the files it read, never clobbering a
        racer's (Iceberg's rewrite-conflict resolution)."""
        import math
        import shutil
        import uuid

        compacted = 0
        tables = [table] if table else PRODUCT_TABLES
        sort_cols = (
            [sort_by] if isinstance(sort_by, str) else list(sort_by or [])
        )
        with self._exclusive_lock():
            for t in tables:
                p = Path(self._path(t))
                if not p.exists():
                    continue
                for part in p.glob(f"{PARTITION_COL}=*"):
                    # ``partitions`` (dir names) scopes the rewrite —
                    # auto_compact passes exactly the policy-breaching
                    # subset so healthy partitions are never rewritten
                    if partitions is not None and part.name not in partitions:
                        continue
                    manifest = self._manifest(part)
                    if manifest is None:
                        continue
                    names = manifest["files"]
                    dv_map = manifest.get("dv") or {}
                    paths = [part / n for n in names if (part / n).exists()]
                    # a partition carrying deletion vectors is always
                    # compactable (even a single file): compaction is
                    # what MATERIALIZES the masks away (Delta's PURGE)
                    if len(paths) <= 1 and not dv_map:
                        continue
                    total = sum(f.stat().st_size for f in paths)
                    target_n = max(1, math.ceil(total / target_file_bytes))
                    if len(paths) <= target_n and not sort_cols and not dv_map:
                        continue

                    staging = part / f"_compact_{uuid.uuid4().hex}"
                    # read under the DECLARED schema when the partition
                    # has evolved — mapped to the PHYSICAL column names
                    # (a logical-name scan over renamed columns would
                    # read them as null and the rewrite would DESTROY
                    # the data): a plain read would sample one file's
                    # schema and silently drop columns the other files
                    # carry — the rewrite must materialize the union.
                    # The rewrite keeps physical names (colmap carries).
                    reader = self.spark.read
                    schema_json = manifest.get("schema")
                    part_colmap = manifest.get("colmap") or {}
                    if schema_json:
                        reader = reader.schema(
                            _to_physical_schema(
                                _schema_from_json(schema_json), part_colmap
                            )
                        )
                    df = reader.parquet(*[str(f) for f in paths])
                    # merge-on-read masks are materialized by the
                    # rewrite: read only the LIVE rows, and the new
                    # files carry no deletion vectors
                    df = self._mask_live(df, part, dv_map)
                    # callers cluster by LOGICAL names; the frame holds
                    # physical columns
                    sort_phys = [part_colmap.get(c, c) for c in sort_cols]
                    if len(sort_phys) > 1:
                        zkey = _zorder_key(df, sort_phys)
                        df = df.withColumn("__z", zkey).repartitionByRange(
                            target_n, F.col("__z")
                        ).sortWithinPartitions("__z").drop("__z")
                    elif sort_phys:
                        df = df.repartitionByRange(
                            target_n, F.col(sort_phys[0])
                        ).sortWithinPartitions(sort_phys[0])
                    else:
                        df = df.repartition(target_n)
                    df.write.parquet(str(staging))
                    new_names = []
                    for f in sorted(staging.glob("*.parquet")):
                        new_name = f"compact-{uuid.uuid4().hex}.parquet"
                        f.rename(part / new_name)
                        new_names.append(new_name)
                    shutil.rmtree(staging)
                    rewritten = set(n for n in names if (part / n).exists())

                    def swap(prior, part=part, new_names=new_names,
                             rewritten=rewritten, schema_json=schema_json,
                             dv_map=dv_map):
                        """Rewrite-conflict resolution (the Iceberg
                        rule): a concurrent APPEND's files survive
                        (they're in prior but not in the rewritten
                        set), but if any rewritten source file is no
                        longer live — a concurrent REPLACE superseded
                        it — or its DELETION VECTOR changed under us —
                        a concurrent delete masked more rows than the
                        rewrite carried over — or the manifest was
                        dropped to listing mode, the compaction
                        ABORTS: committing would resurrect superseded
                        (or deleted) rows. The orphaned compact-*
                        files age out via fsck repair's GC."""
                        if prior is None or not rewritten <= set(prior["files"]):
                            return None
                        prior_dv = prior.get("dv") or {}
                        for n in rewritten:
                            if (prior_dv.get(n) or {}).get("sidecar") != (
                                dv_map.get(n) or {}
                            ).get("sidecar"):
                                return None
                        keep = [n for n in prior["files"] if n not in rewritten]
                        return self._build_manifest_body(
                            part,
                            sorted(new_names) + keep,
                            prior_stats=prior.get("stats"),
                            schema_json=schema_json,
                            prior_rows=prior.get("rows"),
                            product_seq=prior.get("product_seq"),
                            dv=prior_dv,
                            colmap=prior.get("colmap"),
                            dropped_physical=prior.get("dropped_physical"),
                        )

                    if self._update_manifest(part, swap) is not None:
                        compacted += 1               # snapshot point
        return compacted

    #: Max distinct (product, key...) pairs merge_apply's source-stats
    #: job collects to the driver for candidate-file selection. Over
    #: the cap every touched product falls back to the whole-partition
    #: rewrite — at that cardinality most files are candidates anyway,
    #: and an unbounded collect would be the driver-side anti-pattern.
    MERGE_KEYSET_CAP = 100_000

    def merge_rows(
        self, table: str, df: DataFrame, key_cols: list[str], mode: str = "auto"
    ) -> None:
        """MERGE (upsert-by-key) — the table-format operation between
        append and full replace: incoming rows REPLACE current rows
        with equal ``key_cols`` and APPEND otherwise, per product
        partition, atomically. This is ``merge_apply`` with the
        replace-or-insert clause set (``WHEN MATCHED THEN UPDATE`` with
        the whole source row, ``WHEN NOT MATCHED THEN INSERT``), so it
        shares that engine end to end: zone-map/bloom candidate files,
        ``mode`` (auto|cow|dv) choosing deletion vectors for sparsely
        matched files and copy-on-write for dense ones, range-clustered
        successor files, schema evolution (new columns null-fill old
        rows), constraint checks, and the CAS manifest swap that
        retries under concurrent writers.

        One row per key: two or more incoming rows for a key that has a
        live target row raise merge_apply's "MERGE is ambiguous"
        ``ValueError`` and nothing is committed. Incoming rows whose
        key has no live target row all land, duplicates included.

        ``key_cols`` may include the product id. Keyed on the product id
        ALONE, every current row of a product shares the key, so each
        incoming product slice replaces its whole partition through
        ``replace_product_all`` — the reference's delete-then-insert
        (scdb.py:32–72)."""
        if PARTITION_COL not in df.columns:
            raise ValueError(f"merge_rows needs {PARTITION_COL} on the incoming frame")
        if any(c != PARTITION_COL for c in key_cols):
            self.merge_apply(
                table,
                df,
                key_cols,
                when_matched=[{"action": "update"}],
                when_not_matched=[{"action": "insert"}],
                mode=mode,
            )
            return
        if mode not in ("auto", "cow", "dv"):
            raise ValueError(f"merge_rows mode {mode!r} not in auto|cow|dv")
        # one materialization: the pid collect plus every product's
        # write would otherwise re-execute the caller's lineage
        df = df.localCheckpoint(eager=False)
        pids = [r[0] for r in df.select(PARTITION_COL).distinct().collect()]
        if any(p is None for p in pids):
            # a null product id belongs to no partition: equality can
            # never route it, so the rows would silently vanish
            raise ValueError(
                f"merge_rows({table!r}): incoming frame has NULL "
                f"{PARTITION_COL} rows — every row must carry a product id"
            )
        self._pool_map(
            lambda pid: self.replace_product_all(
                pid, {table: df.filter(F.col(PARTITION_COL) == pid)}
            ),
            sorted(pids),
        )

    #: Deletion-vector sizing policy. ``auto`` writes a DV instead of
    #: rewriting a file when the file's matched LIVE-row fraction is
    #: at most DV_MAX_FRACTION (a denser delete means the rewrite is
    #: cheap relative to carrying a huge mask on every future read)
    #: AND the file's total mask stays under DV_MAX_POSITIONS_PER_FILE
    #: (8 MiB sidecar; also bounds the broadcast probe every read
    #: pays). DV_MAX_TOTAL_POSITIONS bounds the driver-side position
    #: collect per delete call — files over budget fall back to the
    #: rewrite, mirroring MERGE_KEYSET_CAP's collect bound.
    DV_MAX_FRACTION = 0.5
    DV_MAX_POSITIONS_PER_FILE = 1 << 20
    DV_MAX_TOTAL_POSITIONS = 4 << 20
    #: Budget for a PARTITION'S TOTAL LIVE MASK (existing + new
    #: positions across all files): the read-side probe is a
    #: driver-held broadcast of every live mask a query touches, so
    #: per-file and per-call caps alone would let repeated scattered
    #: deletes accrete unbounded read-side state (review r9 finding).
    #: Over budget, the densest masks demote to rewrite — a rewrite
    #: CLEARS its file's mask, so heavy deleters self-heal toward
    #: compact layouts instead of growing the probe forever.
    DV_PARTITION_MASK_CAP = 4 << 20
    #: Matched positions up to this many PER FILE ride back inline in
    #: the counting aggregate (sorted, sliced — bounded driver rows),
    #: so the sparse-scattered delete pays ONE candidate scan total;
    #: only files matching more rows need the second, targeted
    #: position job (they're dense — usually rewrite-bound anyway).
    DV_INLINE_POSITIONS = 4096

    #: Independent partitions' delete passes (scan + rewrite + swap)
    #: run concurrently from a small driver thread pool: Spark job
    #: submission is thread-safe, each partition's swap is its own CAS,
    #: and a many-partition predicate delete was previously serialized
    #: on the driver loop (VERDICT r8 watch item / directive #5). The
    #: same width bounds every driver pool of the store (``_pool_map``).
    DELETE_PARALLELISM = 8

    def _pool_map(self, fn, items: list) -> list:
        """Run ``fn`` over ``items`` from a driver thread pool of
        ``min(DELETE_PARALLELISM, len(items))`` threads (serially on the
        calling thread for at most one item); results come back in
        ``items`` order. Spark job submission is thread-safe. Once the
        pool drains, the first failure in item order raises; calls not
        yet started when a call fails are cancelled.

        Each call runs under ``inheritable_thread_target``, so the
        caller's job group, description and tags (and with them
        ``cancelJobGroup``) cover the jobs the pool submits. Commit hooks
        the calls fire are held back and fire on the calling thread, in
        item order, after the pool drains."""
        if len(items) <= 1:
            return [fn(item) for item in items]
        from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

        from pyspark import inheritable_thread_target

        fired: list[list[str]] = [[] for _ in items]

        def run(i: int, item):
            self._pooled_hooks.tables = fired[i]
            try:
                return fn(item)
            finally:
                self._pooled_hooks.tables = None

        with ThreadPoolExecutor(
            max_workers=min(self.DELETE_PARALLELISM, len(items))
        ) as pool:
            # one wrapper per call: each copies the caller's local
            # properties, so concurrent calls never share one mutable copy
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(run), i, item)
                for i, item in enumerate(items)
            ]
            wait(futures, return_when=FIRST_EXCEPTION)
            for f in futures:
                f.cancel()  # no-op unless a call failed before this one started
        for tables in fired:
            for t in tables:
                self._fire_commit_hooks(t)
        return [f.result() for f in futures]

    # -- shared row-level DML machinery ------------------------------------
    # delete_where, update_where and merge_apply (which merge_rows'
    # upsert runs through) all reduce to the same shape: classify live
    # files by whether they MAY hold matched rows, ONE scan counting
    # matched LIVE rows per candidate file, a DV-vs-rewrite split under
    # the mask budgets, and an atomic manifest swap that aborts under
    # concurrent rewrites. delete_where and update_where run that shape
    # once per partition; merge_apply runs it once for every touched
    # partition (one probe, one write, a swap per partition).
    # These helpers are that shape, factored once.

    def _dml_scan_ctx(self, part: Path, manifest: dict, pv):
        """Per-partition scan context: a reader under the declared
        PHYSICAL schema, a ``keyed_live(subset)`` factory attaching
        (file, position) keys with EXISTING deletion vectors applied,
        and a sidecar-decode cache shared by every job in the pass."""
        schema_json = manifest.get("schema")
        dv_entries = manifest.get("dv") or {}
        reader = self.spark.read
        if schema_json:
            reader = reader.schema(
                _to_physical_schema(
                    _schema_from_json(schema_json), manifest.get("colmap") or {}
                )
            )
        dv_pos_cache: dict = {}

        def dv_positions_cached(n: str):
            if n not in dv_pos_cache:
                dv_pos_cache[n] = self._dv_positions(part, dv_entries[n])
            return dv_pos_cache[n]

        def keyed_live(subset: list[str]) -> DataFrame:
            cur = reader.parquet(*[str(part / n) for n in subset])
            k = self._with_dv_keys(cur).withColumn(PARTITION_COL, F.lit(pv))
            masked = [n for n in subset if n in dv_entries]
            if masked:
                probe = self._dv_probe(
                    [(part.name, n, dv_positions_cached(n)) for n in masked]
                )
                k = k.join(
                    F.broadcast(probe),
                    ["__dv_part", "__dv_name", "__dv_pos"],
                    "left_anti",
                )
            return k

        return reader, keyed_live, dv_positions_cached, dv_entries

    def _dml_live_counts(
        self, keyed_live, candidates: list[str], rows_known: dict, dv_entries: dict
    ) -> dict[str, int]:
        """LIVE row counts per candidate: manifest metadata (footer
        rows minus the recorded mask) where known; only files without
        a recorded row count pay a count scan."""
        live_cnt: dict[str, int] = {}
        for n in candidates:
            if n in rows_known:
                live_cnt[n] = int(rows_known[n]) - int(
                    dv_entries.get(n, {}).get("count", 0)
                )
        unknown = [n for n in candidates if n not in live_cnt]
        if unknown:
            for r in (
                keyed_live(unknown)
                .groupBy("__dv_name")
                .agg(F.count(F.lit(1)).alias("live"))
                .collect()
            ):
                live_cnt[r["__dv_name"]] = int(r["live"])
        return live_cnt

    def _dml_matched_counts(
        self, matched: DataFrame, want_positions: bool
    ) -> tuple[dict[str, int], dict[str, list[int]]]:
        """ONE aggregation over the matched-rows frame: per-file
        counts, plus matched positions capped by a window row-number
        BEFORE the collect (the row-number sort spills to disk and the
        when(rn<=cap) keeps each aggregation buffer at most
        DV_INLINE_POSITIONS entries — a half-matched 100M-row file
        must never buffer every position in one executor state)."""
        match_cnt: dict[str, int] = {}
        inline_pos_raw: dict[str, list[int]] = {}
        if not want_positions:
            agg = matched.groupBy("__dv_name").agg(F.count(F.lit(1)).alias("m"))
        else:
            from pyspark.sql.window import Window

            # NOTE (r17, measured): the window's per-file partitioning
            # already SATISFIES the aggregate's clustered distribution
            # (HashPartitioning on a subset of the groupBy keys), so
            # this shape pays exactly ONE shuffle as-is — a re-key of
            # the window to the full groupBy key list produced a
            # byte-identical plan (plans/r17/dml_matched_counts_probe_
            # {before,after}.txt) and was dropped; the per-FILE cap is
            # also the stronger aggregation-buffer bound.
            rn = F.row_number().over(
                Window.partitionBy("__dv_name").orderBy("__dv_pos")
            )
            agg = (
                matched.withColumn("__rn", rn)
                .groupBy("__dv_name")
                .agg(
                    F.count(F.lit(1)).alias("m"),
                    F.collect_list(
                        F.when(
                            F.col("__rn") <= self.DV_INLINE_POSITIONS,
                            F.col("__dv_pos"),
                        )
                    ).alias("pos"),
                )
            )
        for r in agg.collect():
            n = r["__dv_name"]
            match_cnt[n] = match_cnt.get(n, 0) + int(r["m"])
            if want_positions:
                inline_pos_raw.setdefault(n, []).extend(
                    int(x) for x in r["pos"]
                )
        inline_pos = {
            n: sorted(ps)
            for n, ps in inline_pos_raw.items()
            if 0 < match_cnt[n] <= self.DV_INLINE_POSITIONS
        }
        return match_cnt, inline_pos

    def _dml_dv_split(
        self,
        candidates: list[str],
        match_cnt: dict[str, int],
        live_cnt: dict[str, int],
        dv_entries: dict,
        mode: str,
        extra_removed: set[str],
    ) -> tuple[list[str], list[str], list[str]]:
        """The DV-vs-rewrite policy plus BOTH mask budgets. Returns
        ``(full, dv_files, rewrite)``: ``full`` = every live row
        matched (the caller drops or rewrites it); ``dv_files`` take a
        deletion-vector sidecar; ``rewrite`` are copied-on-write.
        ``extra_removed`` are files the caller removes regardless
        (their masks die with them, freeing partition budget)."""
        full: list[str] = []
        dv_files: list[str] = []
        rewrite: list[str] = []
        for n in candidates:
            m = match_cnt.get(n, 0)
            lv = live_cnt.get(n, 0)
            if m == 0:
                continue  # zone maps were conservative: truly untouched
            if m == lv:
                full.append(n)
                continue
            existing = int(dv_entries.get(n, {}).get("count", 0))
            fits = m + existing <= self.DV_MAX_POSITIONS_PER_FILE
            if mode == "cow" or not fits:
                rewrite.append(n)
            elif mode == "dv" or m <= lv * self.DV_MAX_FRACTION:
                dv_files.append(n)
            else:
                rewrite.append(n)
        # bound the driver-side position collect across this
        # partition's DV files; overflowers demote to rewrite,
        # densest first (they were closest to the rewrite anyway)
        total_pos = sum(
            match_cnt[n] + int(dv_entries.get(n, {}).get("count", 0))
            for n in dv_files
        )
        while dv_files and total_pos > self.DV_MAX_TOTAL_POSITIONS:
            worst = max(dv_files, key=lambda n: match_cnt[n])
            dv_files.remove(worst)
            rewrite.append(worst)
            total_pos -= match_cnt[worst] + int(
                dv_entries.get(worst, {}).get("count", 0)
            )
        # partition-wide live-mask budget (see DV_PARTITION_MASK_CAP):
        # untouched files' existing masks + this call's new masks
        touched_now = set(extra_removed) | set(full) | set(rewrite) | set(dv_files)
        live_mask = sum(
            int(e.get("count", 0))
            for n, e in dv_entries.items()
            if n not in touched_now
        ) + sum(
            match_cnt[n] + int(dv_entries.get(n, {}).get("count", 0))
            for n in dv_files
        )
        while dv_files and live_mask > self.DV_PARTITION_MASK_CAP:
            worst = max(
                dv_files,
                key=lambda n: match_cnt[n]
                + int(dv_entries.get(n, {}).get("count", 0)),
            )
            dv_files.remove(worst)
            rewrite.append(worst)  # the rewrite clears worst's mask too
            live_mask -= match_cnt[worst] + int(
                dv_entries.get(worst, {}).get("count", 0)
            )
        return full, dv_files, rewrite

    def _dml_materialize_dvs(
        self,
        part: Path,
        matched_of,
        dv_files: list[str],
        inline_pos: dict[str, list[int]],
        dv_entries: dict,
        dv_positions_cached,
    ) -> dict[str, dict]:
        """Write one immutable sidecar per DV file: this pass's
        matched positions (inline where the counting aggregate already
        carried them; a second targeted scan via ``matched_of(subset)``
        for the dense remainder) unioned with any existing mask."""
        by_file: dict[str, list[int]] = {
            n: list(inline_pos.get(n, [])) for n in dv_files
        }
        second_pass = [n for n in dv_files if n not in inline_pos]
        if second_pass:
            for r in (
                matched_of(second_pass).select("__dv_name", "__dv_pos").collect()
            ):
                by_file[r["__dv_name"]].append(int(r["__dv_pos"]))
        dv_updates: dict[str, dict] = {}
        for n in dv_files:
            positions = by_file[n]
            if n in dv_entries:
                positions = positions + [int(x) for x in dv_positions_cached(n)]
            name, count = self._write_dv_sidecar(part, positions)
            dv_updates[n] = {"sidecar": name, "count": count}
        return dv_updates

    def _dml_write_files(self, part: Path, df: DataFrame, n_files: int, prefix: str) -> list[str]:
        """Land replacement/insert files under unique names BEFORE any
        manifest swap (a crash leaves orphans for fsck's GC, never a
        torn state). The staging dir matches vacuum's ``_{prefix}_*``
        stale-staging patterns."""
        import shutil
        import uuid

        staging = part / f"_{prefix}_{uuid.uuid4().hex}"
        df.coalesce(max(1, n_files)).write.parquet(str(staging))
        names: list[str] = []
        for f in sorted(staging.glob("*.parquet")):
            name = f"{prefix}-{uuid.uuid4().hex}.parquet"
            f.rename(part / name)
            names.append(name)
        shutil.rmtree(staging, ignore_errors=True)
        return names

    #: auto_compact policy defaults. A partition is compacted when ANY
    #: trigger fires; all three are manifest-metadata reads only.
    AUTO_COMPACT_MIN_FILES = 8           # never bother below this
    AUTO_COMPACT_FRAGMENT_FACTOR = 2.0   # live files > factor × ideal
    AUTO_COMPACT_DV_FRACTION = 0.2       # masked positions / known rows
    AUTO_COMPACT_DV_SIDECARS = 16        # distinct masked files

    def auto_compact(
        self,
        table: str | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: str | list[str] | None = None,
    ) -> dict:
        """Policy-driven OPTIMIZE (VERDICT r10 stretch): inspect every
        manifest (driver-side metadata only — no Spark job for healthy
        tables) and ``compact`` exactly the partitions whose
        maintenance debt breaches policy:

        - FRAGMENTATION — live file count ≥ AUTO_COMPACT_MIN_FILES and
          more than AUTO_COMPACT_FRAGMENT_FACTOR × the ideal count for
          ``target_file_bytes`` (every append extends the manifest, so
          hot partitions fragment; a scan pays per-file task-scheduling
          and footer reads);
        - DELETION-VECTOR BURDEN — masked positions exceed
          AUTO_COMPACT_DV_FRACTION of the partition's known rows, or
          AUTO_COMPACT_DV_SIDECARS files carry masks (every masked read
          pays the broadcast position probe; compaction materializes
          the masks away — Delta's PURGE);

        so a scattered-DML soak self-heals instead of degrading reads
        forever, and calling this on a healthy store is a metadata
        no-op. Returns ``{table: {"breached": [part names],
        "compacted": n}}`` for observability. Run ``vacuum`` afterwards
        to reclaim the superseded files under the retention contract."""
        import math

        report: dict = {}
        for t in [table] if table else PRODUCT_TABLES:
            p = Path(self._path(t))
            if not p.exists():
                continue
            breached: list[str] = []
            for part in sorted(p.glob(f"{PARTITION_COL}=*")):
                m = self._manifest(part)
                if m is None:
                    continue
                names = m["files"]
                dv = m.get("dv") or {}
                rows = m.get("rows") or {}
                n_files = len(names)
                frag = False
                if n_files >= self.AUTO_COMPACT_MIN_FILES:
                    total = 0
                    for n in names:
                        try:
                            total += (part / n).stat().st_size
                        except OSError:
                            pass
                    ideal = max(1, math.ceil(total / target_file_bytes))
                    frag = n_files > self.AUTO_COMPACT_FRAGMENT_FACTOR * ideal
                masked = sum(int(e.get("count", 0)) for e in dv.values())
                known = sum(int(rows[n]) for n in names if n in rows)
                dv_heavy = len(dv) >= self.AUTO_COMPACT_DV_SIDECARS or (
                    known > 0 and masked > self.AUTO_COMPACT_DV_FRACTION * known
                )
                if frag or dv_heavy:
                    breached.append(part.name)
            if breached:
                n = self.compact(
                    t, target_file_bytes, sort_by, partitions=breached
                )
                report[t] = {"breached": breached, "compacted": n}
        return report

    def adopt_manifests(self, table: str) -> int:
        """Bring a LISTING-MODE table under manifest control: every
        file-bearing partition without a ``_committed.json`` gets a
        first manifest naming its current files (footer schema probe,
        zone maps/blooms harvested) — the upgrade the DML error
        message ("bring the partition under manifest control first")
        asks for, and what makes a plain-append table eligible for
        delete_where/update_where/merge/compact/describe row counts.
        Returns the number of partitions adopted. Concurrency: the
        manifest write is the usual atomic publish; a concurrent plain
        append racing adoption may land a file after the listing —
        run ``fsck`` after adopting a non-quiesced table."""
        p = Path(self._path(table))
        if not p.exists():
            return 0
        work: list[tuple[Path, list[str]]] = []
        for entry in sorted(p.iterdir()):
            if not (entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}=")):
                continue
            if self._manifest(entry) is not None:
                continue
            names = sorted(f.name for f in entry.glob("*.parquet"))
            if not names:
                continue
            work.append((entry, names))

        def adopt_one(item: tuple[Path, list[str]]) -> None:
            entry, names = item
            schema = self._footer_schema(entry / names[0])
            self._write_committed(entry, names, schema_json=schema.json())

        # independent partitions adopt in parallel (r16, guide §1.2):
        # each adoption is ~one py4j footer-schema round trip plus a
        # pyarrow stats harvest per file — fixed driver-side latency
        # that a 16-partition first write paid SERIALLY (measured
        # 1.19 s of the 2.4 s matview create, ~70 ms/partition); the
        # pool overlaps the round trips exactly like the DML
        # partition pool. Manifest publishes stay per-partition
        # atomic, so ordering between partitions never mattered.
        self._pool_map(adopt_one, work)
        return len(work)

    # -- MERGE clause grammar ---------------------------------------------
    # merge_apply is the one MERGE engine — merge_rows' upsert is its
    # replace-or-insert clause set — and takes the full
    # conditional-clause grammar: one call, one pass over every touched
    # partition and one atomic manifest swap per partition, applies an op-typed
    # change batch — the standard CDC shape the reference hand-composes
    # as delete-then-append plus manual UPDATEs (scdb.py:32–72 +
    # sql_scripts/Housing - Manual Updates.sql).

    @staticmethod
    def _norm_merge_clauses(when_matched, when_not_matched, when_not_matched_by_source):
        """Validate the clause grammar once, driver-side, before any
        job runs. Clause dicts:

        - when_matched: ``{"condition": <SQL str|Column over SOURCE
          columns|None>, "action": "update"|"delete", "set": dict|None,
          "target_condition": <SQL str|Column over TARGET pre-row
          columns|None>}``
          — first match wins per source row; ``update`` with
          ``set=None`` replaces the target row with the source row,
          ``set={col: expr}`` applies update_where's pre-row SET rule
          to the TARGET row (expressions see the row's OLD values).
          ``target_condition`` is the ``WHEN MATCHED AND <target
          pred>`` leg of the SQL grammar: a matched target row that
          fails it is left UNTOUCHED (and a replace-update's source
          successor lands only for keys with at least one passing
          target row) — the source row does NOT fall through to later
          clauses or to the insert leg. This is the merge-time fence
          optimistic writers need: a staleness predicate over a
          target watermark column is evaluated against the row the
          swap actually replaces, not against an earlier read
          (matview.py's ``_mv_hw`` fence rides on it);
        - when_not_matched: same shape, action ``"insert"`` (full
          source row), condition over SOURCE columns;
        - when_not_matched_by_source: action ``"delete"``, condition a
          store predicate list over TARGET columns (``read``'s
          grammar) so zone maps can bound the pass — ``None`` means
          every non-matched target row in the source's partitions.
        """
        wm, wnm, wbs = [], [], []
        for c in when_matched or []:
            a = c.get("action")
            if a not in ("update", "delete"):
                raise ValueError(f"when_matched action {a!r} not in update|delete")
            if a == "delete" and c.get("set"):
                raise ValueError("when_matched delete clause cannot carry 'set'")
            wm.append(
                {
                    "condition": c.get("condition"),
                    "action": a,
                    "set": c.get("set"),
                    "target_condition": c.get("target_condition"),
                }
            )
        for c in when_not_matched or []:
            if c.get("target_condition") is not None:
                # there is no target row on the insert leg to gate on
                raise ValueError(
                    "when_not_matched cannot carry target_condition"
                )
            if c.get("action", "insert") != "insert":
                raise ValueError("when_not_matched supports action 'insert' only")
            if c.get("set"):
                # insert takes the full source row by design — a 'set'
                # here would be silently dropped, so refuse loudly
                raise ValueError(
                    "when_not_matched insert clause cannot carry 'set' — "
                    "shape the source frame instead (insert takes the "
                    "full source row minus drop_cols)"
                )
            wnm.append({"condition": c.get("condition")})
        for c in when_not_matched_by_source or []:
            if c.get("action", "delete") != "delete":
                raise ValueError(
                    "when_not_matched_by_source supports action 'delete' only"
                )
            if c.get("target_condition") is not None:
                raise ValueError(
                    "when_not_matched_by_source takes its target predicate "
                    "via 'condition' (the store grammar) — not "
                    "target_condition"
                )
            cond = c.get("condition")
            if cond is not None:
                _check_dml_where(cond, "merge_apply(when_not_matched_by_source)")
            wbs.append({"condition": cond})
        if not (wm or wnm or wbs):
            raise ValueError("merge_apply needs at least one clause")
        return wm, wnm, wbs

    @staticmethod
    def _target_gate(wm: list[dict], i: int):
        """The clause's target_condition as a NULL-safe boolean Column
        over TARGET pre-row columns (None when the clause carries
        none). NULL evaluates false — the SQL rule — so a gated row
        with a NULL watermark is conservatively left untouched."""
        from pyspark.sql import Column

        tc = wm[i].get("target_condition")
        if tc is None:
            return None
        col = tc if isinstance(tc, Column) else F.expr(str(tc))
        return F.coalesce(col, F.lit(False))

    @staticmethod
    def _clause_label(clauses: list[dict]):
        """First-match-wins clause index over SOURCE rows: a single
        CASE WHEN chain (clause conditions default to always-true;
        NULL conditions count as false, the SQL rule)."""
        from pyspark.sql import Column

        expr = F.lit(None).cast("int")
        chain = None
        for i, c in enumerate(clauses):
            cond = c["condition"]
            if cond is None:
                col = F.lit(True)
            else:
                col = cond if isinstance(cond, Column) else F.expr(str(cond))
                col = F.coalesce(col, F.lit(False))
            chain = (chain.when(col, i) if chain is not None else F.when(col, i))
        return chain.otherwise(expr) if chain is not None else expr

    def merge_apply(
        self,
        table: str,
        source: DataFrame,
        key_cols: list[str],
        when_matched: list[dict] | None = None,
        when_not_matched: list[dict] | None = None,
        when_not_matched_by_source: list[dict] | None = None,
        mode: str = "auto",
        drop_cols: list[str] | None = None,
        _source_stats: list[tuple] | None = None,
    ) -> dict:
        """Conditional-clause MERGE (Delta's ``WHEN MATCHED [AND cond]
        THEN UPDATE/DELETE / WHEN NOT MATCHED THEN INSERT / WHEN NOT
        MATCHED BY SOURCE THEN DELETE``), committed by ONE manifest
        swap per touched product partition, so a reader never sees a
        torn intermediate (the delete landed, the insert not yet).
        Returns ``{"updated": n, "deleted": n, "inserted": n,
        "deleted_by_source": n}``.

        Every touched partition goes through one pass
        (``_merge_apply_batch``): zone maps + blooms classify each
        partition's candidate files on the driver against the bounded
        source key set (and the by-source predicate); ONE probe job
        over the union of all candidate files counts matched live rows
        per (partition, file); sparse files take DELETION VECTORS and
        dense files copy-on-write (``mode`` = auto|cow|dv, the
        delete_where/update_where policy, decided per partition); ONE
        write job lands every partition's successors (replacing source
        rows, SET-transformed target rows, inserts) range-clustered in
        fresh files. Only the swap is per partition, each its own CAS;
        a partition whose swap aborts under a concurrent writer drops
        its staged files and reruns the same pass with the other
        aborted partitions. A scattered matched-DELETE therefore writes
        only kilobyte sidecars — the manifest-diff pytest pins it.

        ``drop_cols`` names ROUTING-ONLY source columns (a CDC op
        column, CDF metadata): clause conditions may reference them,
        but they are dropped from every successor/insert row and never
        evolve the target schema.

        Scope rule (the 100 TB bound): ``when_not_matched_by_source``
        deletes are evaluated ONLY inside partitions the source frame
        touches — a CDC batch for product A can never scan (or delete
        from) product B. Listing-mode partitions and key sets over
        ``MERGE_KEYSET_CAP`` fall back to a whole-partition rewrite
        through the write-ahead txn (``_merge_apply_fallback``).
        Multiple source rows matching one target key
        raise (the ambiguous-MERGE error), except when all of them are
        pure inserts.

        ``_source_stats`` (PRIVATE — matview refresh only): the
        caller supplies the rows the global source-stats job would
        have collected, as ``[(pid, {key_col: val}, mc, nmc, cnt),
        ...]`` where mc/nmc are the clause labels each row's first
        matching when_matched / when_not_matched clause would assign
        (None when no clause applies). The caller MUST guarantee (a)
        the list covers a SUPERSET of the source frame's distinct
        (pid, key) pairs whose extras are keys a when_matched
        target_condition provably fences out (fenced keys probe as
        present, remove nothing, and land no successor — semantics
        identical), (b) the pair count is <= MERGE_KEYSET_CAP, and
        (c) the source frame's lineage is already cached (the global
        stats job doubles as the source materialization; skipping it
        means the probe and the write may each recompute the source
        plan). The probe job checks (a): a source row whose (pid, key)
        the stats miss raises ``ValueError`` before anything is
        staged. With stats supplied, merge_apply runs no global job
        before the probe (the matview refresh measured the stats job
        plus the checkpoint's planning round at ~0.45 s of pure fixed
        cost on a 150-group window)."""
        if mode not in ("auto", "cow", "dv"):
            raise ValueError(f"merge_apply mode {mode!r} not in auto|cow|dv")
        if PARTITION_COL not in source.columns:
            raise ValueError(
                f"merge_apply needs {PARTITION_COL} on the source frame"
            )
        wm, wnm, wbs = self._norm_merge_clauses(
            when_matched, when_not_matched, when_not_matched_by_source
        )
        eff_keys = [c for c in key_cols if c != PARTITION_COL]
        if not eff_keys:
            raise ValueError(
                "merge_apply needs at least one non-partition key column"
            )
        drop_cols = list(drop_cols or [])
        bad_drop = set(drop_cols) & set(key_cols)
        if bad_drop:
            raise ValueError(
                f"merge_apply: drop_cols {sorted(bad_drop)} overlap key_cols"
            )
        clash = {"__mc", "__nmc"} & set(source.columns)
        if clash:
            raise ValueError(
                f"merge_apply: reserved column name(s) {sorted(clash)} collide "
                "with the clause-routing labels — rename the source column(s)"
            )
        if _source_stats is not None:
            # caller-supplied stats (docstring): no global job at all —
            # normalize to the collected-row shape below
            norm = [
                (pid, tuple(kd[c] for c in eff_keys), mc_v, nmc_v, int(cnt))
                for pid, kd, mc_v, nmc_v, cnt in _source_stats
            ]
            overflow = False
        else:
            # ONE materialization of the source: the stats job, the
            # probe and the write would otherwise each re-execute the
            # caller's whole lineage (a matview refresh measured a
            # 2-row merge at 4.2 s from exactly this). LAZY: the stats
            # job's map stage materializes every checkpoint partition,
            # fused into that one job; the ContextCleaner releases the
            # blocks once this frame goes unreferenced (there is no
            # eager-release API for checkpointed data from PySpark)
            source = source.localCheckpoint(eager=False)
            # ONE global stats job: group the source by (pid, keys,
            # matched-clause, not-matched-clause). From its rows the
            # driver derives the key probe (zone-map candidate values +
            # the overflow decision) and every partition's per-key
            # clause tally (ambiguity check, insert counts, removal
            # pairs). A (pid, key) pair carries at most ``combos``
            # label combinations, so the limit both bounds the collect
            # and proves overflow when it truncates.
            mc_g = self._clause_label(wm) if wm else F.lit(None).cast("int")
            nmc_g = self._clause_label(wnm) if wnm else F.lit(None).cast("int")
            combos = (len(wm) + 1) * (len(wnm) + 1)
            stats_rows = (
                source.withColumn("__mc", mc_g)
                .withColumn("__nmc", nmc_g)
                .groupBy(PARTITION_COL, *eff_keys, "__mc", "__nmc")
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .limit(combos * self.MERGE_KEYSET_CAP + 1)
                .collect()
            )
            norm = [
                (r[0], tuple(r[c] for c in eff_keys), r["__mc"], r["__nmc"],
                 int(r["__cnt"]))
                for r in stats_rows
            ]
            n_pairs = len({(p, k) for p, k, _, _, _ in norm})
            overflow = (
                len(stats_rows) > combos * self.MERGE_KEYSET_CAP
                or n_pairs > self.MERGE_KEYSET_CAP
            )
        stats_by_pid: dict = {}
        if overflow:
            pids = [r[0] for r in source.select(PARTITION_COL).distinct().collect()]
        else:
            for pid_v, key_t, mc_v, nmc_v, cnt in norm:
                stats_by_pid.setdefault(pid_v, []).append((key_t, mc_v, nmc_v, cnt))
            pids = sorted(stats_by_pid, key=lambda p: (p is None, p))
        if any(p is None for p in pids):
            raise ValueError(
                f"merge_apply({table!r}): source frame has NULL "
                f"{PARTITION_COL} rows — every row must carry a product id"
            )
        totals = {"updated": 0, "deleted": 0, "inserted": 0, "deleted_by_source": 0}
        # key set too wide for file-level: every partition falls back
        fallback = list(pids) if overflow else []
        pending = [] if overflow else pids
        for attempt in range(5):
            if not pending:
                break
            counts, pending, fb = self._merge_apply_batch(
                table, source, eff_keys, wm, wnm, wbs,
                {p: stats_by_pid[p] for p in pending}, mode, drop_cols,
                check_stats=_source_stats is not None and attempt == 0,
            )
            fallback += fb
            for k in totals:
                totals[k] += counts[k]
        if pending:
            raise CommitConflict(
                f"merge_apply({table!r}, products {pending}): rewrite "
                "superseded by concurrent replaces on every attempt"
            )
        for counts in self._pool_map(
            lambda pid: self._merge_apply_fallback(
                table,
                source.filter(F.col(PARTITION_COL) == pid).drop(PARTITION_COL),
                eff_keys, wm, wnm, wbs, pid, drop_cols,
            ),
            fallback,
        ):
            for k in totals:
                totals[k] += counts.get(k, 0)
        if any(totals.values()):
            self._fire_commit_hooks(table)
        return totals

    def _merge_apply_batch(
        self,
        table: str,
        source: DataFrame,
        key_cols: list[str],
        wm: list[dict],
        wnm: list[dict],
        wbs: list[dict],
        stats_by_pid: dict,
        mode: str,
        drops: list[str],
        check_stats: bool,
    ) -> tuple[dict, list, list]:
        """One clause-MERGE pass over the partitions ``stats_by_pid``
        names (``{pid: [(key_tuple, mc, nmc, row_count), ...]}``, the
        slice of merge_apply's source stats). Returns ``(counts,
        aborted_pids, fallback_pids)``: aborted partitions lost their
        swap to a concurrent writer and had their staged files removed
        (the caller reruns them); fallback partitions have no manifest
        or no files (the caller takes the whole-partition path).

        Source rows label their first matching clause and target rows
        inherit the label through the broadcast (pid, key, clause)
        pairs. ONE probe job over every partition's candidate files
        yields, per (pid, file): presence (which source keys have a
        live target row — rows failing a clause's target gate still
        prove presence), removal counts, per-clause tallies and the
        capped inline DV positions; the by-source delete leg (label
        -1) anti-joins the source key set over candidates bounded by
        the clause predicate's zone maps, and with ``check_stats`` a
        third leg (label -2) counts source rows the stats miss. The
        ambiguity check then falls out driver-side from the stats.
        Partitions sharing a declared schema (normally all of them)
        share one scan and one write job."""
        import shutil
        import uuid
        from urllib.parse import unquote

        from pyspark import StorageLevel
        from pyspark.sql import Column
        from pyspark.sql.window import Window

        def union(frames):
            return _functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
            )

        tdir = Path(self._path(table))
        st: dict = {}
        fallback: list = []
        for pid in stats_by_pid:
            part = tdir / f"{PARTITION_COL}={pid}"
            m = self._manifest(part)
            if m is None or not m["files"]:
                fallback.append(pid)
            else:
                st[pid] = {"part": part, "m": m, "dv": m.get("dv") or {}}
        colmap0, dropped = _union_colmap([s["m"] for s in st.values()], table)
        payload = source.drop(PARTITION_COL, *drops)
        _, colmap = _translate_payload(payload, colmap0, dropped)
        # only clauses that ADD source columns to the table evolve the
        # schema (replace/insert); SET-only grammars keep it unchanged
        evolves = bool(wnm) or any(c["action"] == "update" and not c["set"] for c in wm)
        mc = self._clause_label(wm) if wm else F.lit(None).cast("int")
        nmc = self._clause_label(wnm) if wnm else F.lit(None).cast("int")
        src_l = source.withColumn("__mc", mc).withColumn("__nmc", nmc)
        key_schema = src_l.select(PARTITION_COL, *key_cols).schema
        bs_pred = _functools.reduce(lambda a, b: a | b, [
            F.coalesce(_where_expr(c["condition"]), F.lit(False))
            if c["condition"] else F.lit(True)
            for c in wbs
        ]) if wbs else None
        # driver side: every partition's distinct source keys, its
        # (pid, key, clause) probe pairs, candidate files and schema
        all_keys: list[tuple] = []
        pairs: list[tuple] = []
        groups: dict[str, dict] = {}
        for pid, rows in stats_by_pid.items():
            mcs: dict = {}
            nmc_keys: set = set()
            for k, mc_v, nmc_v, _cnt in rows:
                mcs.setdefault(k, set())
                if mc_v is not None:
                    mcs[k].add(int(mc_v))
                if nmc_v is not None:
                    nmc_keys.add(k)
            for k, ms in mcs.items():
                all_keys.append((pid, *k))
                if ms:
                    pairs.extend((pid, *k, m_) for m_ in sorted(ms))
                elif k in nmc_keys:
                    # insert-only key: presence detection still needed
                    pairs.append((pid, *k, None))
            s = st.get(pid)
            if s is None:
                continue
            m, stats = s["m"], s["m"].get("stats", {})
            probe_vals = {
                c: sorted({k[i] for k in mcs if k[i] is not None})
                for i, c in enumerate(key_cols)
            }
            s["key_where"] = [
                (colmap0.get(c, c), "in", vs) for c, vs in probe_vals.items() if vs
            ]
            s["cand_m"] = (
                []
                if any(not vs for vs in probe_vals.values())
                else [n for n in m["files"] if _file_may_match(stats.get(n), s["key_where"])]
            )
            s["cand_b"] = []
            for n in m["files"] if wbs else []:
                fs = dict(stats.get(n) or {})
                fs["__nulls__"] = {**(fs.get("__nulls__") or {}), PARTITION_COL: 0}
                fs[PARTITION_COL] = [pid, pid]
                if any(
                    c["condition"] is None
                    or _file_may_match(fs, _where_physical(c["condition"], colmap0))
                    for c in wbs
                ):
                    s["cand_b"].append(n)
            s.update(present=set(), match={}, clause={}, inline={})
            schema0 = m.get("schema") or self._footer_schema(
                s["part"] / m["files"][0]
            ).json()
            s["schema0"] = schema0
            groups.setdefault(schema0, {"pids": []})["pids"].append(pid)
        for schema0, g in groups.items():
            prior_t = _schema_from_json(schema0)
            g["schema"] = (
                _merge_schemas(prior_t, payload.schema).json() if evolves else schema0
            )
            g["types"] = types = {
                f.name: f.dataType
                for f in _schema_from_json(g["schema"]).fields
                if f.name != PARTITION_COL
            }
            for c in wm:
                unknown = sorted(set(c["set"] or ()) - set(types))
                if unknown or PARTITION_COL in (c["set"] or ()):
                    raise ValueError(
                        f"merge_apply: SET column(s) {unknown or [PARTITION_COL]} "
                        f"not payload columns of {table!r}"
                    )
            g["reader"] = (
                self.spark.read.schema(_to_physical_schema(prior_t, colmap0))
                if st[g["pids"][0]]["m"].get("schema")
                else self.spark.read
            )
        # the pid back from the partition dir name ("<PARTITION_COL>=<pid>")
        pid_col = F.col("__dv_part").substr(len(PARTITION_COL) + 2, 1 << 16).cast(
            key_schema[PARTITION_COL].dataType
        )

        def live(reader, files: dict) -> DataFrame:
            """Live rows (existing deletion vectors applied) of
            ``{pid: [file names]}`` under one group's reader, with
            (file, position) keys and the pid, in logical names."""
            paths, masked = [], []
            for pid, names in files.items():
                part, dv = st[pid]["part"], st[pid]["dv"]
                for n in names:
                    paths.append(str(part / n))
                    if n in dv:
                        masked.append((part.name, n, self._dv_positions(part, dv[n])))
            k = self._with_dv_keys(reader.parquet(*paths)).withColumn(
                PARTITION_COL, pid_col
            )
            if masked:
                k = k.join(
                    F.broadcast(self._dv_probe(masked)),
                    ["__dv_part", "__dv_name", "__dv_pos"],
                    "left_anti",
                )
            return _rename_to_logical(k, colmap)

        pk = [PARTITION_COL, *key_cols]
        pairs_df = F.broadcast(self._local_rows(pairs, src_l.select(*pk, "__mc").schema))
        keys_df = F.broadcast(self._local_rows(all_keys, key_schema))
        rm = F.col("__mc").isNotNull()
        for i in range(len(wm)):
            gate = self._target_gate(wm, i)
            if gate is not None:
                rm = rm & ((F.col("__mc") != i) | gate)
        narrow_cols = [PARTITION_COL, "__dv_name", "__dv_pos", *key_cols, "__mc", "__rm"]
        narrow = []
        for g in groups.values():
            legs = []
            cm = {p: st[p]["cand_m"] for p in g["pids"] if st[p]["cand_m"]}
            if cm and pairs:
                legs.append(
                    live(g["reader"], cm).join(pairs_df, pk).withColumn("__rm", rm)
                )
            cb = {p: st[p]["cand_b"] for p in g["pids"] if st[p]["cand_b"]}
            if cb:
                legs.append(
                    live(g["reader"], cb)
                    .filter(bs_pred)
                    .join(keys_df, pk, "left_anti")
                    .withColumn("__mc", F.lit(-1))
                    .withColumn("__rm", F.lit(True))
                )
            if legs:
                # the probe aggregation below materializes this cache,
                # so the write job (survivors anti-join, SET transforms,
                # the gated-replace broadcast) and any dense-DV second
                # pass read the joined rows instead of re-scanning
                g["probe"] = union(legs).persist(StorageLevel.MEMORY_AND_DISK)
                narrow.append(g["probe"].select(*narrow_cols))
        if check_stats:
            s_, k_ = source.select(*pk).alias("__s"), keys_df.alias("__k")
            cond = _functools.reduce(
                lambda a, b: a & b,
                [F.col(f"__s.{c}").eqNullSafe(F.col(f"__k.{c}")) for c in pk],
            )
            narrow.append(
                s_.join(k_, cond, "left_anti").select(
                    *[F.col(c) for c in pk],
                    F.lit(None).cast("string").alias("__dv_name"),
                    F.lit(None).cast("long").alias("__dv_pos"),
                    F.lit(-2).alias("__mc"),
                    F.lit(False).alias("__rm"),
                )
            )
        probes = [g["probe"] for g in groups.values() if "probe" in g]
        staged: dict = {}  # pid -> (new file names, dv_updates)
        counts = {"updated": 0, "deleted": 0, "inserted": 0, "deleted_by_source": 0}
        staging = Path(self.root) / "_staging" / f"merge_{uuid.uuid4().hex[:12]}"
        try:
            missing = 0
            if narrow:
                # one shuffle by construction: the window's partitioning
                # satisfies the aggregate's clustered distribution
                # (subset of its grouping keys) — see _dml_matched_counts
                win = Window.partitionBy(PARTITION_COL, "__dv_name", "__rm")
                rn = F.row_number().over(win.orderBy("__dv_pos"))
                for r in (
                    union(narrow)
                    .withColumn("__rn", rn)
                    .groupBy(PARTITION_COL, "__dv_name", *key_cols, "__mc", "__rm")
                    .agg(
                        F.count(F.lit(1)).alias("m"),
                        F.collect_list(
                            F.when(
                                F.col("__rm")
                                & (F.col("__rn") <= self.DV_INLINE_POSITIONS),
                                F.col("__dv_pos"),
                            )
                        ).alias("pos"),
                    )
                    .collect()
                ):
                    if r["__mc"] == -2:
                        missing += int(r["m"])
                        continue
                    s = st[r[PARTITION_COL]]
                    if r["__mc"] != -1:
                        s["present"].add(tuple(r[c] for c in key_cols))
                    if r["__rm"]:
                        n, c_ = r["__dv_name"], int(r["__mc"])
                        s["match"][n] = s["match"].get(n, 0) + int(r["m"])
                        s["clause"][c_] = s["clause"].get(c_, 0) + int(r["m"])
                        s["inline"].setdefault(n, []).extend(int(x) for x in r["pos"])
            if missing:
                raise ValueError(
                    f"merge_apply({table!r}): _source_stats misses {missing} "
                    "source row(s) — the supplied stats must cover every "
                    "(pid, key) pair of the source frame"
                )
            for pid, s in st.items():
                ins, per_key = 0, {}
                for k, mc_v, nmc_v, cnt in stats_by_pid[pid]:
                    if k in s["present"]:
                        if mc_v is not None:
                            per_key[k] = per_key.get(k, 0) + cnt
                    elif nmc_v is not None:
                        ins += cnt
                dup_key = next((k for k, n in per_key.items() if n > 1), None)
                if dup_key is not None:
                    raise ValueError(
                        f"merge_apply({table!r}): multiple source rows match "
                        f"target key {dup_key} with "
                        "update/delete clauses — MERGE is ambiguous"
                    )
                s["ins"] = ins
                s["lands"] = bool(ins or s["match"])
                s["inline"] = {
                    n: sorted(ps)
                    for n, ps in s["inline"].items()
                    if 0 < s["match"][n] <= self.DV_INLINE_POSITIONS
                }
                s["full"], s["dvf"], s["rewrite"] = [], [], []
                if s["match"]:
                    cands = sorted(set(s["cand_m"]) | set(s["cand_b"]))
                    reader = groups[s["schema0"]]["reader"]
                    live_cnt = self._dml_live_counts(
                        lambda subset, pid=pid, reader=reader: live(reader, {pid: subset}),
                        cands, s["m"].get("rows", {}), s["dv"],
                    )
                    s["full"], s["dvf"], s["rewrite"] = self._dml_dv_split(
                        cands, s["match"], live_cnt, s["dv"], mode, extra_removed=set()
                    )
            # dense DV files (over the inline cap): one position job
            # across every partition, then one sidecar per file
            dense = {(p, n) for p, s in st.items() for n in s["dvf"] if n not in s["inline"]}
            if dense:
                names = sorted({n for _, n in dense})
                for r in union([
                    p_.filter(F.col("__rm") & F.col("__dv_name").isin(names))
                    .select(PARTITION_COL, "__dv_name", "__dv_pos")
                    for p_ in probes
                ]).collect():
                    pid, n = r[PARTITION_COL], r["__dv_name"]
                    if (pid, n) in dense:
                        st[pid]["inline"].setdefault(n, []).append(int(r["__dv_pos"]))
            for pid, s in st.items():
                dv_updates = {}
                if s["dvf"]:
                    dv_updates = self._dml_materialize_dvs(
                        s["part"], None, s["dvf"], s["inline"], s["dv"],
                        lambda n, s=s: self._dv_positions(s["part"], s["dv"][n]),
                    )
                staged[pid] = ([], dv_updates)
            # successors: every superseded row's replacement plus the
            # not-matched inserts, one write job per schema group
            replace_idx = [i for i, c in enumerate(wm) if c["action"] == "update" and not c["set"]]
            gated_idx = [i for i in replace_idx if wm[i].get("target_condition") is not None]
            plain_idx = [i for i in replace_idx if i not in gated_idx]
            for gi, g in enumerate(groups.values()):
                lp = [p for p in g["pids"] if st[p]["lands"]]
                if not lp:
                    continue
                src_g = src_l.filter(F.col(PARTITION_COL).isin(lp))
                matched = g["probe"].filter("__rm").drop("__rm") if "probe" in g else None
                present = [(p, *k) for p in lp for k in st[p]["present"]]
                src_hit, src_un = None, src_g
                if present:
                    pres = F.broadcast(self._local_rows(present, key_schema))
                    src_hit = src_g.join(pres, pk, "left_semi")
                    src_un = src_g.join(pres, pk, "left_anti")
                src_pieces = []
                if src_hit is not None and plain_idx:
                    src_pieces.append(src_hit.filter(F.col("__mc").isin(plain_idx)))
                if src_hit is not None and gated_idx and matched is not None:
                    # a gated replace lands its source successor ONLY
                    # for keys with a passing target row — otherwise a
                    # fenced-out (stale) update would still swap in
                    passed = matched.filter(F.col("__mc").isin(gated_idx)).select(*pk, "__mc")
                    src_pieces.append(
                        src_hit.filter(F.col("__mc").isin(gated_idx))
                        .join(F.broadcast(passed.distinct()), [*pk, "__mc"], "left_semi")
                    )
                if wnm:
                    # insert counts come from the stats, not a count()
                    # action: an Observation below repartitionByRange
                    # fires twice (the range sampler re-runs its child)
                    src_pieces.append(src_un.filter(F.col("__nmc").isNotNull()))
                pieces = [p_.drop("__mc", "__nmc", *drops) for p_ in src_pieces]
                for i, c in enumerate(wm):
                    if matched is not None and c["action"] == "update" and c["set"]:
                        pieces.append(
                            matched.filter(F.col("__mc") == i)
                            .drop("__dv_part", "__dv_name", "__dv_pos", "__mc")
                            .withColumns({
                                col: (e if isinstance(e, Column) else F.expr(str(e)))
                                .cast(g["types"][col])
                                for col, e in c["set"].items()
                            })
                        )
                rw = {p: st[p]["rewrite"] for p in lp if st[p]["rewrite"]}
                if rw:
                    dv_keys = ["__dv_part", "__dv_name", "__dv_pos"]
                    pieces.insert(0, live(g["reader"], rw).join(
                        matched.select(*dv_keys), dv_keys, "left_anti"
                    ).drop(*dv_keys))
                if not pieces:
                    continue
                # range-clustered successors: one file per partition
                # unless it rewrote several (then one per rewritten
                # file, split by key range)
                n_out = {p: max(1, len(st[p]["rewrite"])) for p in lp}
                merged = union(pieces)
                if max(n_out.values()) == 1:
                    merged = merged.repartition(len(lp), PARTITION_COL)
                else:
                    merged = merged.repartitionByRange(sum(n_out.values()), *pk)
                out = staging / f"g{gi}"
                staging.mkdir(parents=True, exist_ok=True)
                (staging / "_INFLIGHT").touch()
                with self._inflight_keepalive(staging / "_INFLIGHT"):
                    _rename_to_physical(merged.sortWithinPartitions(*pk), colmap).write \
                        .partitionBy(PARTITION_COL).parquet(str(out))
                by_dir = {f"{PARTITION_COL}={p}": p for p in lp}
                for d in out.glob(f"{PARTITION_COL}=*"):
                    pid = by_dir[unquote(d.name)]
                    for f in sorted(d.glob("*.parquet")):
                        name = f"merge-{uuid.uuid4().hex}.parquet"
                        f.rename(st[pid]["part"] / name)
                        staged[pid][0].append(name)
        except BaseException:
            for pid, (names, dv_updates) in staged.items():
                self._merge_unstage(st[pid]["part"], names, dv_updates)
            raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
            for p_ in probes:
                p_.unpersist()
        new_files = [st[p]["part"] / n for p, (ns, _) in staged.items() for n in ns]
        try:
            self._enforce_constraints(tdir.name, new_files, colmap)
        except ConstraintViolation:
            for pid, (names, dv_updates) in staged.items():
                self._merge_unstage(st[pid]["part"], names, dv_updates)
            raise
        aborted: list = []
        with self._exclusive_lock():
            for pid, s in st.items():
                names, dv_updates = staged[pid]
                if not s["lands"] and groups[s["schema0"]]["schema"] == s["schema0"]:
                    # provably NOTHING lands here — every probed key
                    # absent or fenced by a target_condition, no insert,
                    # no by-source delete — and the declared schema is
                    # unchanged: no write, no manifest version. When the
                    # clauses DO evolve the schema, the swap commits the
                    # new schema alone, with no data file.
                    continue
                removed = set(s["rewrite"]) | set(s["full"])
                s.update(
                    new_names=names, dv_updates=dv_updates, removed=removed,
                    touched=removed | set(dv_updates), evolves=evolves,
                    payload_schema=payload.schema, colmap=colmap, wbs=bool(wbs),
                    new_schema=groups[s["schema0"]]["schema"],
                )
                if self._merge_apply_swap(pid, s) is None:
                    self._merge_unstage(s["part"], names, dv_updates)
                    aborted.append(pid)
                    continue
                for i, c in enumerate(wm):
                    k = "updated" if c["action"] == "update" else "deleted"
                    counts[k] += s["clause"].get(i, 0)
                counts["deleted_by_source"] += s["clause"].get(-1, 0)
                counts["inserted"] += s["ins"]
        return counts, aborted, fallback

    @staticmethod
    def _merge_unstage(part: Path, names: list[str], dv_updates: dict) -> None:
        """Remove one partition's staged merge files and sidecars."""
        for n in names:
            (part / n).unlink(missing_ok=True)
        for e in dv_updates.values():
            (part / e["sidecar"]).unlink(missing_ok=True)

    def _merge_apply_swap(self, pid, s: dict) -> dict | None:
        """One partition's manifest swap for ``_merge_apply_batch``
        (``s`` is that partition's pass state). Returns the committed
        body, or None when the swap aborted under a concurrent writer.

        Rewrite-conflict rules (compact's plus Iceberg's MERGE
        validation): abort if a touched source was superseded by a
        concurrent replace or its DV moved under a concurrent delete —
        committing would resurrect superseded/deleted rows. A
        concurrent append survives by reference only when its stats
        prove it holds no source key (else one row per key could
        break) AND no by-source candidate row."""
        snapshot_files, snapshot_dv = set(s["m"]["files"]), s["dv"]

        def swap(prior):
            if prior is None or not s["touched"] <= set(prior["files"]):
                return None
            prior_dv = prior.get("dv") or {}
            for n in s["touched"]:
                if (prior_dv.get(n) or {}).get("sidecar") != (
                    snapshot_dv.get(n) or {}
                ).get("sidecar"):
                    return None
            prior_stats = prior.get("stats", {})
            for n in prior["files"]:
                if n in snapshot_files:
                    continue
                if s["key_where"] and _file_may_match(
                    prior_stats.get(n), s["key_where"]
                ):
                    return None
                if s["wbs"]:
                    return None  # any unseen append may hold by-source rows
            keep = [n for n in prior["files"] if n not in s["removed"]]
            prior_schema = prior.get("schema")
            if s["evolves"] and prior_schema and prior_schema != s["new_schema"]:
                declared = _merge_schemas(
                    _schema_from_json(prior_schema), s["payload_schema"]
                ).json()
            elif s["evolves"]:
                declared = s["new_schema"]
            else:
                declared = prior_schema or s["new_schema"]
            return self._build_manifest_body(
                s["part"],
                sorted(s["new_names"]) + keep,
                prior_stats=prior.get("stats"),
                schema_json=declared,
                prior_rows=prior.get("rows"),
                product_seq=prior.get("product_seq"),
                dv={**prior_dv, **s["dv_updates"]},
                colmap={**(prior.get("colmap") or {}), **s["colmap"]},
                dropped_physical=prior.get("dropped_physical"),
            )

        return self._update_manifest(s["part"], swap)


    def _merge_apply_fallback(
        self,
        table: str,
        src: DataFrame,
        key_cols: list[str],
        wm: list[dict],
        wnm: list[dict],
        wbs: list[dict],
        pid,
        drop_cols: list[str] | None = None,
    ) -> dict:
        """Whole-partition MERGE through the write-ahead txn — the
        conservative path for listing-mode or empty partitions and
        over-cap key sets. Computes the final state with plain
        DataFrame ops and one atomic ``replace_product_all``; counts
        come from dedicated count jobs (the fallback is already the
        expensive path)."""
        from pyspark.sql import Column

        drops = list(drop_cols or [])
        mc = self._clause_label(wm) if wm else F.lit(None).cast("int")
        nmc = self._clause_label(wnm) if wnm else F.lit(None).cast("int")
        src_l = src.withColumn("__mc", mc).withColumn("__nmc", nmc)
        current = self.read_product_slice(table, pid)
        counts = {"updated": 0, "deleted": 0, "inserted": 0, "deleted_by_source": 0}
        if current is None:
            out = src_l.filter(F.col("__nmc").isNotNull()).drop(
                "__mc", "__nmc", *drops
            )
            counts["inserted"] = out.count()
            final = out.withColumn(PARTITION_COL, F.lit(pid))
            self.replace_product_all(pid, {table: final})
            return counts
        current = current.drop(PARTITION_COL)
        tkeys = current.select(*key_cols).distinct()
        src_hit = src_l.join(tkeys, key_cols, "left_semi")
        src_unmatched = src_l.join(tkeys, key_cols, "left_anti")
        # the partition path's ambiguity rule: two source rows with a
        # matched clause for one live target key
        dup = (
            src_hit.filter(F.col("__mc").isNotNull())
            .groupBy(*key_cols)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"merge_apply({table!r}): multiple source rows match "
                f"target key {tuple(dup[0][c] for c in key_cols)} with "
                "update/delete clauses — MERGE is ambiguous"
            )
        removal_map = src_hit.filter(F.col("__mc").isNotNull()).select(
            *key_cols, "__mc"
        ).distinct()
        labeled = current.join(removal_map, key_cols, "left")
        # target-gated clauses: a failing target row's label is NULLed
        # (NOT filtered — it must flow into ``kept`` and survive)
        for i in range(len(wm)):
            gate = self._target_gate(wm, i)
            if gate is None:
                continue
            labeled = labeled.withColumn(
                "__mc",
                F.when(
                    (F.col("__mc") == i) & ~gate, F.lit(None).cast("int")
                ).otherwise(F.col("__mc")),
            )
        kept = labeled.filter(F.col("__mc").isNull()).drop("__mc")
        if wbs:
            preds = [
                F.coalesce(_where_expr(c["condition"]), F.lit(False))
                if c["condition"]
                else F.lit(True)
                for c in wbs
            ]
            bs_pred = preds[0]
            for p_ in preds[1:]:
                bs_pred = bs_pred | p_
            skeys = src_l.select(*key_cols).distinct()
            bs_doomed = kept.filter(bs_pred).join(skeys, key_cols, "left_anti")
            counts["deleted_by_source"] = bs_doomed.count()
            kept = kept.exceptAll(bs_doomed)
        pieces = [kept]
        for i, c in enumerate(wm):
            hit = labeled.filter(F.col("__mc") == i).drop("__mc")
            n = hit.count()
            if c["action"] == "delete":
                counts["deleted"] += n
                continue
            counts["updated"] += n
            if c["set"]:
                types = {f.name: f.dataType for f in current.schema.fields}
                pieces.append(
                    hit.withColumns(
                        {
                            col: (
                                e if isinstance(e, Column) else F.expr(str(e))
                            ).cast(types[col])
                            for col, e in c["set"].items()
                        }
                    )
                )
            else:
                piece = src_hit.filter(F.col("__mc") == i)
                if c.get("target_condition") is not None:
                    piece = piece.join(
                        hit.select(*key_cols).distinct(), key_cols, "left_semi"
                    )
                pieces.append(piece.drop("__mc", "__nmc", *drops))
        if wnm:
            ins = src_unmatched.filter(F.col("__nmc").isNotNull()).drop(
                "__mc", "__nmc", *drops
            )
            counts["inserted"] = ins.count()
            pieces.append(ins)
        final = pieces[0]
        for p_ in pieces[1:]:
            final = final.unionByName(p_, allowMissingColumns=True)
        self.replace_product_all(
            pid, {table: final.withColumn(PARTITION_COL, F.lit(pid))}
        )
        return counts

    # -- table constraints ----------------------------------------------------

    def constraints(self, table: str) -> dict:
        """Declared constraints for ``table``: {name: spec} where spec
        is ``{"kind": "not_null", "cols": [...]}`` or ``{"kind":
        "check", "preds": [[col, op, value], ...]}`` (the store's
        predicate grammar, ANDed)."""
        return dict(self._table_constraints(table))

    def add_constraint(
        self, table: str, name: str, *, not_null=None, check=None
    ) -> None:
        """Declare a NOT NULL or CHECK constraint (exactly one). The
        CURRENT table data is validated first with one Spark scan —
        like Delta's ADD CONSTRAINT, declaring a rule existing rows
        already break is refused, so enforcement can trust that every
        committed snapshot satisfies every declared constraint and
        writes only ever need to examine their OWN new files.

        ``check`` uses the store's predicate grammar — a list of
        ``(col, op, value)`` ANDed, ops ``== != >= > <= < between in``
        on LOGICAL column names — deliberately, not a free SQL string:
        the same tuples drive the zone-map clean-proof at write time
        and stay evaluable in the session-less streaming-sink commit
        worker (pyarrow), so every write path enforces the same rule.
        A row violates iff the ANDed predicate evaluates FALSE (SQL's
        CHECK rule: null passes — combine with not_null to forbid
        nulls). The partition column cannot be constrained (its values
        never reach the payload files the probes read).

        Enforcement covers every path that introduces NEW row values:
        append, replace (both forms), epoch/streaming appends (incl.
        the session-less sink), merge_apply (so merge_rows),
        update_where. delete_where
        and compact only carry existing values, which already conform.
        ``restore`` deliberately bypasses: a pre-constraint snapshot
        was valid under its own rules — re-validate or drop the
        constraint after restoring across its add point."""
        from .commit import cas_update

        if (not_null is None) == (check is None):
            raise ValueError("add_constraint: pass exactly one of not_null/check")
        if not name or not isinstance(name, str):
            raise ValueError("add_constraint: name must be a non-empty string")
        if not_null is not None:
            cols = list(not_null)
            if not cols or any(not isinstance(c, str) for c in cols):
                raise ValueError("add_constraint: not_null needs column names")
            if PARTITION_COL in cols:
                raise ValueError(
                    f"add_constraint: {PARTITION_COL} is never null by "
                    "construction and cannot be constrained"
                )
            spec = {"kind": "not_null", "cols": cols}
        else:
            if "or" in list(check):
                raise ValueError(
                    "add_constraint: OR predicates are not supported in "
                    "CHECK constraints (footer-first negation enforcement "
                    "is per-conjunct) — declare one constraint per disjunct "
                    "only if EVERY row must satisfy each"
                )
            preds = [tuple(p) for p in check]
            if not preds:
                raise ValueError("add_constraint: check needs at least one predicate")
            if any(p[1] in ("isnull", "notnull") for p in preds):
                raise ValueError(
                    "add_constraint: use not_null=[cols] for null "
                    "constraints — isnull/notnull CHECK predicates have "
                    "no footer-first negation probe"
                )
            if any(p[1] in ("like", "notlike", "notin") for p in preds):
                raise ValueError(
                    "add_constraint: like/notlike/notin CHECK predicates "
                    "have no footer-first negation probe — constrain with "
                    "comparison/between/in predicates"
                )
            _where_expr(preds)  # op whitelist + shape validation
            if any(c == PARTITION_COL for c, _, _ in preds):
                raise ValueError(
                    f"add_constraint: constraints on {PARTITION_COL} are not "
                    "supported (partition values live in dir names, not files)"
                )
            try:
                # allow_nan=False: json.dumps would happily emit the
                # RFC-invalid NaN/Infinity literals, and a NaN check
                # constant splits the engines — Spark's NaN==NaN is
                # true while the pyarrow sink path patches NaN rows by
                # op alone (review r10 wave 8); refuse at declaration
                json.dumps([list(p) for p in preds], allow_nan=False)
            except (TypeError, ValueError) as e:
                raise ValueError(
                    f"add_constraint: check values must be JSON-storable, "
                    f"finite numbers or strings ({e})"
                ) from None
            spec = {"kind": "check", "preds": [list(p) for p in preds]}

        # ONE validation scan, under the store writer lock, with the
        # publish inside the same critical section (review r10 wave 6
        # — the earlier unlocked-scan-then-locked-rescan shape paid
        # two full scans and still held the lock for one of them):
        # on the lock-based backend every manifest swap serializes
        # against this section, so any write committed before the scan
        # is covered and any write after it reads the published
        # constraint. The residual window — a write that read the
        # (then-empty) constraints, staged, and commits after this
        # section under the LOCK-FREE CAS backend — is unreachable
        # without multi-blob atomicity; verify_constraints() is the
        # audit to run when adding constraints on a non-quiesced
        # CAS-backed table.
        with self._exclusive_lock():
            cur = self.read(table)
            if cur is not None:
                missing = sorted(
                    set(
                        spec.get("cols")
                        or [c for c, _, _ in spec.get("preds", [])]
                    )
                    - set(cur.columns)
                )
                if missing:
                    raise ValueError(
                        f"add_constraint({table!r}): column(s) {missing} not "
                        f"in table columns "
                        f"{sorted(set(cur.columns) - {PARTITION_COL})}"
                    )
                bad = (
                    cur.filter(self._violation_expr(spec, cur.columns))
                    .limit(1)
                    .take(1)
                )
                if bad:
                    raise ConstraintViolation(
                        f"add_constraint({table!r}, {name!r}): existing data "
                        f"violates it, e.g. {bad[0].asDict()}"
                    )

            def put(prior):
                body = dict(prior or {})
                tables = {
                    t: dict(v) for t, v in (body.get("tables") or {}).items()
                }
                have = tables.setdefault(table, {})
                if name in have:
                    raise ValueError(
                        f"add_constraint({table!r}): constraint {name!r} "
                        "already exists — drop_constraint it first"
                    )
                have[name] = spec
                body["tables"] = tables
                return body

            cas_update(self._backend, Path(self.root), CONSTRAINTS, put)

    def verify_constraints(self, table: str) -> dict:
        """Audit the CURRENT table against every declared constraint:
        {name: None | one violating row dict}. Write-path enforcement
        guarantees each WRITE conforms to the constraints it READ; the
        one unreachable edge is a write staged before an
        add_constraint published and committed after its re-scan —
        run this after adding constraints on a non-quiesced table (or
        after a ``restore`` across an add point) to close it."""
        cur = self.read(table)
        out: dict = {}
        for name, spec in self._table_constraints(table).items():
            if cur is None:
                out[name] = None
                continue
            bad = cur.filter(self._violation_expr(spec, cur.columns)).limit(1).take(1)
            out[name] = bad[0].asDict() if bad else None
        return out

    def drop_constraint(self, table: str, name: str) -> None:
        from .commit import cas_update

        def drop(prior):
            body = dict(prior or {})
            tables = {t: dict(v) for t, v in (body.get("tables") or {}).items()}
            if name not in (tables.get(table) or {}):
                raise ValueError(
                    f"drop_constraint({table!r}): no constraint {name!r}"
                )
            del tables[table][name]
            if not tables[table]:
                del tables[table]
            body["tables"] = tables
            return body

        cas_update(self._backend, Path(self.root), CONSTRAINTS, drop)

    def _table_constraints(self, table: str) -> dict:
        cur = self._backend.read(Path(self.root), CONSTRAINTS)
        return ((cur[1] if cur else {}).get("tables") or {}).get(table) or {}

    def _rename_in_constraints(self, table: str, old: str, new: str) -> None:
        """Follow a column rename through every constraint spec that
        names it (specs hold LOGICAL names, and rename_column changes
        the logical name while the physical stays)."""
        from .commit import cas_update

        if not self._table_constraints(table):
            return

        def upd(prior):
            body = dict(prior or {})
            tables = {t: dict(v) for t, v in (body.get("tables") or {}).items()}
            have = tables.get(table) or {}
            changed = False
            for name, spec in list(have.items()):
                if spec["kind"] == "not_null" and old in spec["cols"]:
                    have[name] = {
                        "kind": "not_null",
                        "cols": [new if c == old else c for c in spec["cols"]],
                    }
                    changed = True
                elif spec["kind"] == "check" and any(
                    c == old for c, _, _ in spec["preds"]
                ):
                    have[name] = {
                        "kind": "check",
                        "preds": [
                            [new if c == old else c, op, v]
                            for c, op, v in spec["preds"]
                        ],
                    }
                    changed = True
            if not changed:
                return None  # abort: nothing references the column
            body["tables"] = tables
            return body

        cas_update(self._backend, Path(self.root), CONSTRAINTS, upd)

    @staticmethod
    def _violation_expr(spec: dict, frame_cols) -> "F.Column":
        """Spark violation predicate for one constraint over a LOGICAL
        frame: not_null → any constrained column null (absent = all
        null); check → the ANDed predicate IS FALSE (absent columns
        contribute null, which propagates SQL's 3VL exactly)."""
        import functools
        import operator

        if spec["kind"] == "not_null":
            return functools.reduce(
                operator.or_,
                [
                    F.col(c).isNull() if c in frame_cols else F.lit(True)
                    for c in spec["cols"]
                ],
            )
        # check: a predicate on an ABSENT column evaluates NULL — the
        # same 3VL a null-valued column yields, so `a >= 0 AND b < 5`
        # with `a` missing still flags rows where `b >= 5` (null AND
        # false = FALSE) and passes the rest (null AND true = null)
        exprs = [
            _where_expr([(c, op, v)])
            if c in frame_cols
            else F.lit(None).cast("boolean")
            for c, op, v in (tuple(p) for p in spec["preds"])
        ]
        check = functools.reduce(operator.and_, exprs)
        return ~F.coalesce(check, F.lit(True))

    def _enforce_constraints(self, table: str, files, colmap: dict) -> None:
        """Verify this write's NEW files against the table's declared
        constraints BEFORE their manifest swap — the caller unlinks
        the files when this raises. Footer-first: the same per-file
        zone maps / null counts the commit harvests prove most files
        clean (``_neg_probes`` + ``_file_may_match``, NaN-sound);
        only inconclusive (file, constraint) pairs pay a scan of the
        constrained columns — Spark-side where a session exists, via
        pyarrow in the session-less sink commit worker. Cost when no
        constraints are declared: ONE cached backend read."""
        cons = self._table_constraints(table)
        if not cons or not files:
            return
        import pyarrow.parquet as pq

        cmap = colmap or {}

        def phys(c):
            return cmap.get(c, c)

        to_scan: list[tuple[Path, str, dict]] = []
        for path in files:
            path = Path(path)
            # ONE footer open serves both the schema names and the
            # stats harvest (review r10 wave 5: these were two)
            try:
                pf = pq.ParquetFile(str(path))
                names = set(pf.schema_arrow.names)
            except Exception:
                pf, names = None, None
            probe = _parquet_file_stats(path, pf=pf) if pf is not None else None
            stats = probe[0] if probe else {}
            nulls = stats.get("__nulls__") or {}
            for name, spec in cons.items():
                if spec["kind"] == "not_null":
                    for c in spec["cols"]:
                        p = phys(c)
                        if names is not None and p not in names:
                            raise ConstraintViolation(
                                f"{table}: NOT NULL constraint {name!r} — "
                                f"file {path.name} has no column {c!r} "
                                "(every row would be null)"
                            )
                        nc = nulls.get(p)
                        if nc == 0:
                            continue
                        if isinstance(nc, int) and nc > 0:
                            raise ConstraintViolation(
                                f"{table}: NOT NULL constraint {name!r} — "
                                f"file {path.name} holds {nc} null "
                                f"row(s) in {c!r}"
                            )
                        to_scan.append(
                            (path, name, {"kind": "not_null", "cols": [c]})
                        )
                else:
                    conclusive = True
                    for pred in spec["preds"]:
                        c, op, v = pred
                        if names is not None and phys(c) not in names:
                            continue  # absent column: null rows pass CHECK
                        negs = _neg_probes((c, op, v))
                        if negs is None or any(
                            _file_may_match(stats, [(phys(nc_), nop, nv)])
                            for nc_, nop, nv in negs
                        ):
                            conclusive = False
                            break
                    if not conclusive:
                        to_scan.append((path, name, spec))
        if to_scan:
            self._scan_constraint_violations(table, to_scan, cmap)

    def _scan_constraint_violations(
        self, table: str, to_scan: list, cmap: dict
    ) -> None:
        """Scan fallback for footer-inconclusive (file, constraint)
        pairs. With a session: ONE distributed read per constraint
        over just its inconclusive files (mergeSchema, physical→
        logical rename), so a large append's check cost scales with
        the files the zone maps could NOT clear, not the write size.
        Session-less (StoreMeta in the sink's commit worker): pyarrow
        per staged file — bounded by the micro-batch."""
        spark = getattr(self, "spark", None)
        if spark is None:
            def phys(c):
                return cmap.get(c, c)

            for path, name, spec in to_scan:
                if _pa_file_violates(Path(path), spec, phys):
                    raise ConstraintViolation(
                        f"{table}: constraint {name!r} violated by rows "
                        f"in {Path(path).name}"
                    )
            return
        by_cons: dict[tuple, list] = {}
        for path, name, spec in to_scan:
            by_cons.setdefault((name, json.dumps(spec, sort_keys=True)), []).append(
                str(path)
            )
        for (name, spec_json), paths in by_cons.items():
            spec = json.loads(spec_json)
            df = _rename_to_logical(
                spark.read.option("mergeSchema", "true").parquet(*paths), cmap
            )
            bad = df.filter(self._violation_expr(spec, df.columns)).limit(1).take(1)
            if bad:
                raise ConstraintViolation(
                    f"{table}: constraint {name!r} violated, e.g. "
                    f"{bad[0].asDict()}"
                )

    def _dml_swap(
        self,
        part: Path,
        removed: set[str],
        touched: set[str],
        dv_entries: dict,
        dv_updates: dict,
        new_names: list[str],
        verify_new: bool = True,
    ) -> bool:
        """The shared DML manifest swap: abort (False — caller deletes
        this attempt's files/sidecars and retries against the new
        snapshot) if any touched source file was superseded by a
        concurrent replace, or a concurrent delete moved a touched
        file's deletion vector; otherwise commit removed/new files and
        the DV updates atomically.

        Declared constraints are enforced on this attempt's NEW files
        first when ``verify_new`` (update_where's transformed rows can
        break them; delete_where passes ``False`` — its survivor
        rewrites hold only already-committed values, and re-proving
        them would pay a pointless scan whenever the zone maps are
        inconclusive, e.g. multi-member ``in`` checks or float columns
        — review r10 wave 5). A violation cleans up exactly like an
        abort, then raises instead of retrying."""
        if verify_new:
            try:
                self._enforce_constraints(
                    part.parent.name,
                    [part / n for n in new_names],
                    dict((self._manifest(part) or {}).get("colmap") or {}),
                )
            except ConstraintViolation:
                for n in new_names:
                    (part / n).unlink(missing_ok=True)
                for e in dv_updates.values():
                    (part / e["sidecar"]).unlink(missing_ok=True)
                raise
        with self._exclusive_lock():

            def swap(prior):
                if prior is None or not touched <= set(prior["files"]):
                    return None  # superseded: abort, caller retries
                prior_dv = prior.get("dv") or {}
                for n in touched:
                    if (prior_dv.get(n) or {}).get("sidecar") != (
                        dv_entries.get(n) or {}
                    ).get("sidecar"):
                        return None  # concurrent DV move on a touched file
                keep = [n for n in prior["files"] if n not in removed]
                new_dv = dict(prior_dv)
                new_dv.update(dv_updates)
                return self._build_manifest_body(
                    part,
                    sorted(new_names) + keep,
                    prior_stats=prior.get("stats"),
                    schema_json=prior.get("schema"),
                    prior_rows=prior.get("rows"),
                    product_seq=prior.get("product_seq"),
                    dv=new_dv,
                    colmap=prior.get("colmap"),
                    dropped_physical=prior.get("dropped_physical"),
                )

            committed = self._update_manifest(part, swap)
        if committed is None:
            for n in new_names:
                (part / n).unlink(missing_ok=True)
            for e in dv_updates.values():
                (part / e["sidecar"]).unlink(missing_ok=True)
            return False
        return True

    def _dml_partition_work(self, table: str, where, op: str) -> list[tuple]:
        """Partition-level pruning shared by delete_where/update_where:
        predicates naming the partition column prune whole partitions
        at the listing; listing-mode partitions (no manifest) raise —
        a rewrite there cannot be atomic for readers."""
        p = Path(self._path(table))
        if not p.exists():
            return []
        work: list[tuple] = []
        for entry in sorted(p.iterdir()):
            if not (entry.is_dir() and entry.name.startswith(f"{PARTITION_COL}=")):
                continue
            raw = entry.name.split("=", 1)[1]
            try:
                pv: float | str = int(raw)
            except ValueError:
                pv = raw
            part_stats = {PARTITION_COL: [pv, pv], "__nulls__": {PARTITION_COL: 0}}
            if not _file_may_match(part_stats, where or []):
                continue  # partition provably untouched
            manifest = self._manifest(entry)
            if manifest is None:
                if any(entry.glob("*.parquet")):
                    raise ValueError(
                        f"{op}({table!r}): partition {entry.name} is in "
                        "listing mode (no manifest) — a rewrite there cannot be "
                        "atomic for readers; replace the product or bring the "
                        "partition under manifest control first"
                    )
                continue
            work.append((entry, manifest, part_stats, pv))
        return work

    def _dml_run_partitions(self, table: str, work: list[tuple], op: str, partition_fn) -> int:
        """Retry-loop + thread-pool driver shared by delete_where and
        update_where: independent partitions proceed in parallel
        (DELETE_PARALLELISM driver threads, one CAS swap each); an
        aborted swap recomputes against the new snapshot."""

        def run_one(item) -> int:
            entry, manifest, part_stats, pv = item
            for attempt in range(5):
                n, done = partition_fn(entry, manifest, part_stats, pv)
                if done:
                    return n
                manifest = self._manifest(entry)
                if manifest is None:
                    return 0  # partition dropped mid-pass: nothing to do
            raise CommitConflict(
                f"{op}({table!r}, {entry.name}): rewrite superseded "
                "by concurrent replaces on every attempt"
            )

        return sum(self._pool_map(run_one, work))

    def delete_where(self, table: str, where, mode: str = "auto") -> int:
        """Row-level DELETE ... WHERE (the reference's IN-subquery
        deletes, scdb.py:38–49, generalized below product grain —
        completing the DML surface next to append / merge / replace).
        ``where`` is the same predicate list ``read`` takes; returns
        the number of rows deleted.

        Per manifest partition, the zone maps + blooms first classify
        each live file as (a) PROVABLY UNTOUCHED (``_file_may_match``
        False — carried by reference, never read), (b) PROVABLY
        ALL-MATCHED (``_file_all_match``: bounds inside the predicate
        range AND a recorded zero null count — dropped from the
        manifest WITHOUT being read, the Delta file-level delete), or
        (c) a candidate. ONE scan over the candidates (existing
        deletion vectors applied) counts matched live rows per file;
        then per file, by ``mode``:

        - ``"auto"`` (default): fully-matched files are dropped;
          SPARSELY-matched files (see DV_MAX_FRACTION/_POSITIONS)
          get a DELETION VECTOR — a sidecar recording the matched
          row positions, merged with any existing mask, applied at
          read (merge-on-read: the scattered small delete writes
          kilobytes of sidecar instead of rewriting the table);
          densely-matched files are rewritten copy-on-write.
        - ``"cow"``: always rewrite (the pre-DV shape; compact-like
          read amplification but zero read-side mask cost).
        - ``"dv"``: prefer a deletion vector whenever the mask fits
          the caps, regardless of density.

        Predicates naming the partition column prune whole partitions
        at the listing, and INDEPENDENT partitions proceed in
        parallel (DELETE_PARALLELISM driver threads, one CAS swap
        each). The atomic manifest swap gives readers the usual
        snapshot isolation; the change feed sees dropped/rewritten
        files as deletes plus surviving-row inserts and DV growth as
        position-sliced deletes, so ``apply_changes`` reproduces the
        post-delete snapshot exactly (pytest-pinned). A swap aborts
        (and retries) if a concurrent replace superseded a source
        file — or a concurrent delete moved a touched file's DV —
        exactly like merge/compact.

        Listing-mode partitions have no manifest indirection, so the
        rewrite there couldn't be atomic for readers — they raise
        (run under manifest control, or use replace/delete_product).

        At 100 TB: candidate selection is driver-side metadata; the
        scan cost is proportional to the files that MAY hold matching
        rows; and the WRITE cost of a scattered sparse delete is the
        mask size, not the table size."""
        if mode not in ("auto", "cow", "dv"):
            raise ValueError(f"delete_where mode {mode!r} not in auto|cow|dv")
        _check_dml_where(where, "delete_where")
        work = self._dml_partition_work(table, where, "delete_where")
        n = self._dml_run_partitions(
            table,
            work,
            "delete_where",
            lambda entry, manifest, part_stats, pv: self._delete_where_partition(
                entry, manifest, where, part_stats, pv, mode
            ),
        )
        if n:
            self._fire_commit_hooks(table)
        return n

    def _delete_where_partition(
        self, part: Path, manifest: dict, where, part_stats: dict, pv, mode: str
    ) -> tuple[int, bool]:
        """One partition's delete pass. Returns (rows_deleted, done);
        done=False means the manifest swap aborted under a concurrent
        replace (or a concurrent DV move on a touched file) and the
        caller should retry against the new snapshot."""
        stats = manifest.get("stats", {})
        rows_known = manifest.get("rows", {})
        dv_entries = manifest.get("dv") or {}
        # stats, blooms, and the files themselves are keyed by the
        # PHYSICAL column names: the caller's logical predicate
        # translates once here and drives classification, the scan,
        # and the rewrite (which keeps physical names). None/empty =
        # every row matches (the same rule update_where uses — a bare
        # ``DELETE FROM t``): stats-bearing files drop metadata-only.
        where = _where_physical(where, manifest.get("colmap") or {}) or []
        # classify: predicates are evaluated against the file stats
        # UNIONED with the partition-dir value (payload files don't
        # carry the partition column; the dir value proves it, null-free)
        drop_whole: list[str] = []
        candidates: list[str] = []
        for n in manifest["files"]:
            fs = dict(stats.get(n) or {})
            fs_nulls = dict(fs.get("__nulls__") or {})
            fs_nulls[PARTITION_COL] = 0
            fs[PARTITION_COL] = [pv, pv]
            fs["__nulls__"] = fs_nulls
            if not _file_may_match(fs, where):
                continue  # provably untouched
            if _file_all_match(fs, where):
                # every PHYSICAL row matches, so every LIVE row does
                # too (any deletion vector only removes rows) — drop
                # the file (and its mask) without reading it
                drop_whole.append(n)
            else:
                candidates.append(n)
        if not drop_whole and not candidates:
            return 0, True
        _, keyed_live, dv_positions_cached, _dv = self._dml_scan_ctx(
            part, manifest, pv
        )
        pred = (
            F.coalesce(_where_expr(where), F.lit(False)) if where else F.lit(True)
        )

        def matched_of(subset: list[str]) -> DataFrame:
            return keyed_live(subset).filter(pred)

        # LIVE counts come from manifest metadata; MATCHED counts +
        # capped inline positions come from ONE scan over matched rows
        # (mode='cow' never materializes positions at all)
        live_cnt = self._dml_live_counts(
            keyed_live, candidates, rows_known, dv_entries
        )
        match_cnt: dict[str, int] = {}
        inline_pos: dict[str, list[int]] = {}
        if candidates:
            match_cnt, inline_pos = self._dml_matched_counts(
                matched_of(candidates), want_positions=(mode != "cow")
            )
        scanned_drop, dv_files, rewrite = self._dml_dv_split(
            candidates, match_cnt, live_cnt, dv_entries, mode,
            extra_removed=set(drop_whole),
        )
        if not drop_whole and not scanned_drop and not dv_files and not rewrite:
            return 0, True
        # materialize the deletion vectors: matched positions unioned
        # with any existing mask, one immutable sidecar per file
        dv_updates: dict[str, dict] = {}
        if dv_files:
            dv_updates = self._dml_materialize_dvs(
                part, matched_of, dv_files, inline_pos, dv_entries,
                dv_positions_cached,
            )
        # rewrite the densely-matched files minus their matching rows
        new_names: list[str] = []
        if rewrite:
            kept = (
                keyed_live(rewrite)
                .filter(~pred)
                .drop("__dv_part", "__dv_name", "__dv_pos", PARTITION_COL)
            )
            new_names = self._dml_write_files(part, kept, len(rewrite), "delete")
        removed = set(drop_whole) | set(scanned_drop) | set(rewrite)
        touched = removed | set(dv_updates)
        if not self._dml_swap(
            part, removed, touched, dv_entries, dv_updates, new_names,
            verify_new=False,  # survivors hold only committed values
        ):
            return 0, False
        # deleted = stats-dropped files' LIVE rows (manifest metadata,
        # minus any mask) + every scanned candidate's matched count
        drop_rows = 0
        for n in drop_whole:
            masked = int(dv_entries.get(n, {}).get("count", 0))
            if n in rows_known:
                drop_rows += int(rows_known[n]) - masked
            else:
                drop_rows += (
                    self.spark.read.parquet(str(part / n)).count() - masked
                )
        return drop_rows + sum(match_cnt.get(n, 0) for n in candidates), True

    def update_where(self, table: str, set_exprs: dict, where, mode: str = "auto") -> int:
        """Row-level ``UPDATE ... SET expr WHERE pred`` as first-class
        DML (the reference's manual-maintenance script runs 19 of
        these — constant-valued ``SET ParentThemeId = 4609 WHERE
        IndicatorThemeId = 46100018`` and expression-valued ``SET
        IndicatorTheme_EN = CONCAT('[', IndicatorThemeId, '] ',
        IndicatorTheme_EN) WHERE ParentThemeId IN (4609, 4610)`` —
        sql_scripts/Housing - Manual Updates.sql:13–31; without this
        op the store could only express them as a read-transform-
        replace of a whole product).

        ``set_exprs`` maps LOGICAL column names to expressions — a
        ``pyspark.sql.Column`` or a SQL string evaluated against the
        row's OLD values (all SET expressions see the pre-update row,
        the SQL UPDATE rule: ``{"a": "b", "b": "a"}`` swaps). Each
        result is cast to the column's declared type, so an UPDATE
        never changes the table schema; unknown target columns and
        the partition column raise before anything is written.
        ``where`` is the same predicate list ``read``/``delete_where``
        take (``None``/empty = every row). Returns rows updated.

        Execution is MERGE-ON-READ in the Delta deletion-vector shape,
        sharing delete_where's machinery end to end: zone maps +
        blooms classify each live file as provably untouched (carried
        by reference, never read) or candidate; ONE scan counts
        matched live rows per candidate; then per file, by ``mode``
        (same policy knobs as delete_where):

        - sparse matches → the file's OLD row positions join its
          DELETION VECTOR (kilobytes of sidecar) and the TRANSFORMED
          rows append as one fresh file — a scattered 19-row update
          on a 100 TB product writes two sidecars and one tiny file,
          never a rewrite;
        - dense matches (or ``mode="cow"``, or over the mask budgets)
          → copy-on-write: the file is rewritten in place with
          ``CASE WHEN pred THEN expr ELSE old END`` applied.

        The change feed sees DV growth as position-sliced deletes and
        the appended file as inserts (a COW file as delete+insert), so
        ``apply_changes`` replays an update exactly; read_at time
        travel resolves pre-update snapshots through the old masks.
        Snapshot isolation and concurrent-writer aborts are the shared
        ``_dml_swap`` rules."""
        if mode not in ("auto", "cow", "dv"):
            raise ValueError(f"update_where mode {mode!r} not in auto|cow|dv")
        if not set_exprs:
            raise ValueError("update_where needs at least one SET column")
        bad = {c for c in set_exprs if not isinstance(c, str)} | (
            {PARTITION_COL} & set(set_exprs)
        )
        if bad:
            raise ValueError(
                f"update_where({table!r}): cannot SET {sorted(map(str, bad))} — "
                f"targets must be payload column names (not {PARTITION_COL})"
            )
        _check_dml_where(where, "update_where")
        work = self._dml_partition_work(table, where, "update_where")
        n = self._dml_run_partitions(
            table,
            work,
            "update_where",
            lambda entry, manifest, part_stats, pv: self._update_where_partition(
                entry, manifest, set_exprs, where, pv, mode
            ),
        )
        if n:
            self._fire_commit_hooks(table)
        return n

    def _update_where_partition(
        self, part: Path, manifest: dict, set_exprs: dict, where, pv, mode: str
    ) -> tuple[int, bool]:
        """One partition's update pass; same (n, done) contract as
        ``_delete_where_partition``."""
        from pyspark.sql import Column

        stats = manifest.get("stats", {})
        rows_known = manifest.get("rows", {})
        dv_entries = manifest.get("dv") or {}
        colmap = dict(manifest.get("colmap") or {})
        # stats/blooms are keyed by PHYSICAL names: the logical
        # predicate translates once for classification; the SCAN
        # surfaces LOGICAL names (set expressions and the filter both
        # evaluate in the caller's namespace)
        pwhere = _where_physical(where, colmap) or []
        candidates: list[str] = []
        for n in manifest["files"]:
            fs = dict(stats.get(n) or {})
            fs_nulls = dict(fs.get("__nulls__") or {})
            fs_nulls[PARTITION_COL] = 0
            fs[PARTITION_COL] = [pv, pv]
            fs["__nulls__"] = fs_nulls
            if _file_may_match(fs, pwhere):
                candidates.append(n)
        if not candidates:
            return 0, True
        _, keyed_live, dv_positions_cached, _dv = self._dml_scan_ctx(
            part, manifest, pv
        )
        pred = (
            F.coalesce(_where_expr(where), F.lit(False)) if where else F.lit(True)
        )

        def logical_live(subset: list[str]) -> DataFrame:
            return _rename_to_logical(keyed_live(subset), colmap)

        def matched_of(subset: list[str]) -> DataFrame:
            return logical_live(subset).filter(pred)

        # validate SET targets against the live logical columns ONCE,
        # and freeze each target's declared type for the cast. The
        # declared manifest schema (already logical, already merged /
        # widened) answers this with ZERO scans; only a legacy
        # schema-less partition pays the probe frame — which, on a
        # DV'd candidate, costs a driver-side createDataFrame plus a
        # py4j reader round trip (review r10 wave 4: that is the same
        # fixed tax this round removed from point reads)
        if manifest.get("schema"):
            payload_types = {
                f.name: f.dataType
                for f in _schema_from_json(manifest["schema"]).fields
                if f.name != PARTITION_COL
            }
        else:
            probe_cols = logical_live(candidates[:1])
            payload_types = {
                f.name: f.dataType
                for f in probe_cols.schema.fields
                if f.name
                not in ("__dv_part", "__dv_name", "__dv_pos", PARTITION_COL)
            }
        unknown = sorted(set(set_exprs) - set(payload_types))
        if unknown:
            raise ValueError(
                f"update_where: SET column(s) {unknown} not in table "
                f"columns {sorted(payload_types)}"
            )

        def as_col(e) -> "Column":
            return e if isinstance(e, Column) else F.expr(str(e))

        def transformed(df: DataFrame) -> DataFrame:
            # ONE simultaneous projection: every expression resolves
            # against the input frame (the OLD row), then casts back
            # to the column's declared type
            return df.withColumns(
                {c: as_col(e).cast(payload_types[c]) for c, e in set_exprs.items()}
            )

        def cow_transformed(df: DataFrame) -> DataFrame:
            return df.withColumns(
                {
                    c: F.when(pred, as_col(e).cast(payload_types[c])).otherwise(
                        F.col(c)
                    )
                    for c, e in set_exprs.items()
                }
            )

        live_cnt = self._dml_live_counts(
            keyed_live, candidates, rows_known, dv_entries
        )
        # a potential DV path reuses the matched rows twice more
        # (dense-file positions, the transformed insert pool): persist
        # so the candidate scan runs once, not three times — matched
        # rows are sparse by DV construction, so the cache is small
        # (dense matches demote to rewrite and never re-read it)
        matched = matched_of(candidates)
        if mode != "cow":
            from pyspark import StorageLevel

            matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            match_cnt, inline_pos = self._dml_matched_counts(
                matched, want_positions=(mode != "cow")
            )
            full, dv_files, rewrite = self._dml_dv_split(
                candidates, match_cnt, live_cnt, dv_entries, mode,
                extra_removed=set(),
            )
            # an all-rows-matched file transforms every row: the
            # rewrite is strictly better than masking all rows and
            # re-appending all of them
            rewrite = rewrite + full
            if not dv_files and not rewrite:
                return 0, True
            dv_updates: dict[str, dict] = {}
            new_names: list[str] = []
            if dv_files:
                in_dv = F.col("__dv_name").isin(list(dv_files))
                # mask the OLD positions ...
                dv_updates = self._dml_materialize_dvs(
                    part,
                    lambda subset: matched.filter(
                        F.col("__dv_name").isin(list(subset))
                    ),
                    dv_files,
                    inline_pos,
                    dv_entries,
                    dv_positions_cached,
                )
                # ... and append the TRANSFORMED rows as one fresh file
                upd = transformed(matched.filter(in_dv)).drop(
                    "__dv_part", "__dv_name", "__dv_pos", PARTITION_COL
                )
                new_names += self._dml_write_files(
                    part, _rename_to_physical(upd, colmap), 1, "update"
                )
            if rewrite:
                cow = cow_transformed(logical_live(rewrite)).drop(
                    "__dv_part", "__dv_name", "__dv_pos", PARTITION_COL
                )
                new_names += self._dml_write_files(
                    part, _rename_to_physical(cow, colmap), len(rewrite), "update"
                )
        finally:
            if mode != "cow":
                matched.unpersist()
        removed = set(rewrite)
        touched = removed | set(dv_updates)
        if not self._dml_swap(part, removed, touched, dv_entries, dv_updates, new_names):
            return 0, False
        return sum(match_cnt.get(n, 0) for n in candidates), True

    def fsck(
        self,
        table: str | None = None,
        repair: bool = False,
        older_than_seconds: float = 3600.0,
    ) -> dict[str, dict]:
        """Store consistency audit — the ops check a 100 TB deployment
        runs before trusting a store root. Per table:

        - ``missing``    — files a LIVE manifest references that are
          gone from disk (data loss: a vacuum bug or manual deletion;
          reads of that partition will fail);
        - ``superseded`` — on-disk files not in the live manifest but
          referenced by manifest HISTORY (healthy: retained snapshot
          data awaiting vacuum / serving time travel);
        - ``unknown``    — on-disk files referenced by nothing (write
          leftovers from a crashed pre-manifest append; safe to GC);
        - ``stats_missing`` — live files without zone-map entries
          (reads stay correct but skip nothing for them);
        - ``constraints_dangling`` — declared constraints referencing
          a column absent from every partition's declared schema (the
          residue of a rename/crash between the schema and constraint
          commits: NOT NULL fails writes loudly, but a dangling CHECK
          silently passes every row — this is where it surfaces; heal
          with drop_constraint + add_constraint).

        Audit is driver-side listing + JSON/footer reads only — no
        Spark jobs. With ``repair=True`` the two safely-actionable
        classes are HEALED and reported under ``repaired``:

        - ``unknown`` files older than ``older_than_seconds`` are
          garbage-collected (the age gate protects a concurrent
          publish's moved-but-not-yet-committed files, same retention
          reasoning as vacuum); younger ones stay listed as unknown;
        - ``stats_missing`` files get their zone maps (and declared
          blooms) re-harvested from the parquet footers and committed
          back into the manifest via the normal CAS path.

        ``missing`` is data loss and ``superseded`` is healthy
        retention — neither is ever auto-"repaired". Live data is
        never touched."""
        import time

        cutoff = time.time() - older_than_seconds
        report: dict[str, dict] = {}
        tables = [table] if table else PRODUCT_TABLES
        for t in tables:
            p = Path(self._path(t))
            if not p.exists():
                continue
            missing: list[str] = []
            superseded: list[str] = []
            unknown: list[str] = []
            stats_missing: list[str] = []
            gc_files: list[str] = []
            stats_repaired: list[str] = []
            for part in sorted(p.glob(f"{PARTITION_COL}=*")):
                manifest = self._manifest(part)
                if manifest is None:
                    continue  # listing-mode partition: everything is live
                live = set(manifest["files"])
                live_dv = {
                    e["sidecar"] for e in (manifest.get("dv") or {}).values()
                }
                stats = manifest.get("stats", {})
                on_disk = {f.name for f in part.glob("*.parquet")}
                on_disk_dv = {f.name for f in part.glob("dv-*.bin")}
                missing += sorted(f"{part.name}/{n}" for n in live - on_disk)
                # a LIVE manifest's missing deletion-vector sidecar is
                # data loss of the worst kind: reading without the mask
                # RESURRECTS deleted rows (read() refuses loudly)
                missing += sorted(
                    f"{part.name}/{n}" for n in live_dv - on_disk_dv
                )
                part_stats_gap = sorted(live & on_disk - set(stats))
                historical: set[str] = set()
                for m in self._history_entries(part):
                    historical |= set(m.get("files", []))
                    historical |= {
                        e["sidecar"] for e in (m.get("dv") or {}).values()
                    }
                part_unknown = sorted(
                    ((on_disk - live) - historical)
                    | ((on_disk_dv - live_dv) - historical)
                )
                superseded += sorted(
                    f"{part.name}/{n}"
                    for n in (
                        ((on_disk - live) | (on_disk_dv - live_dv)) & historical
                    )
                )
                if repair:
                    with self._exclusive_lock():
                        for n in part_unknown:
                            f = part / n
                            if f.exists() and f.stat().st_mtime <= cutoff:
                                f.unlink()
                                gc_files.append(f"{part.name}/{n}")
                            else:
                                unknown.append(f"{part.name}/{n}")
                        if part_stats_gap:

                            def heal(prior, part=part, gap=part_stats_gap):
                                if prior is None:
                                    return None
                                # drop the gap files' (absent) entries so
                                # _build_manifest_body re-harvests exactly
                                # them; everything else carries forward
                                return self._build_manifest_body(
                                    part,
                                    prior["files"],
                                    prior_stats=prior.get("stats"),
                                    schema_json=prior.get("schema"),
                                    prior_rows=prior.get("rows"),
                                    product_seq=prior.get("product_seq"),
                                    dv=prior.get("dv"),
                                    colmap=prior.get("colmap"),
                                    dropped_physical=prior.get("dropped_physical"),
                                )

                            self._update_manifest(part, heal)
                            healed = (self._manifest(part) or {}).get("stats", {})
                            for n in part_stats_gap:
                                if n in healed:
                                    stats_repaired.append(f"{part.name}/{n}")
                                else:
                                    stats_missing.append(f"{part.name}/{n}")
                else:
                    unknown += [f"{part.name}/{n}" for n in part_unknown]
                    stats_missing += [f"{part.name}/{n}" for n in part_stats_gap]
            dangling: list[str] = []
            cons = self._table_constraints(t)
            if cons:
                logical: set[str] = set()
                any_schema = False
                for part in sorted(p.glob(f"{PARTITION_COL}=*")):
                    m = self._manifest(part)
                    if m and m.get("schema"):
                        any_schema = True
                        logical |= {
                            f.name for f in _schema_from_json(m["schema"]).fields
                        }
                if any_schema:
                    for cname, spec in sorted(cons.items()):
                        cols = spec.get("cols") or [
                            c for c, _, _ in spec.get("preds", [])
                        ]
                        gone = sorted(set(cols) - logical)
                        if gone:
                            dangling.append(f"{cname}: {gone}")
            entry: dict = {}
            if missing or superseded or unknown or stats_missing or dangling:
                entry = {
                    "missing": missing,
                    "superseded": superseded,
                    "unknown": unknown,
                    "stats_missing": stats_missing,
                }
                if dangling:
                    entry["constraints_dangling"] = dangling
            if repair and (gc_files or stats_repaired):
                entry = entry or {
                    "missing": missing,
                    "superseded": superseded,
                    "unknown": unknown,
                    "stats_missing": stats_missing,
                }
                entry["repaired"] = {"gc": gc_files, "stats": stats_repaired}
            if entry:
                report[t] = entry
        return report

    # -- column rename / drop (metadata-only schema evolution) -------------
    # VERDICT r9 directive #4: `_merge_schemas` was additive-only — a
    # rename was drop+add, silently losing the column's history. These
    # two ops complete the evolution surface without touching a single
    # data file (see the column-mapping section above).

    def _admin_schema_update(self, table: str, update_fn) -> int:
        """Shared frame for rename/drop: per manifest partition, CAS
        the manifest through ``update_fn(prior, part)`` under the
        store lock (a torn multi-partition op is converged by
        re-running — `_table_colmap` detects genuine divergence).
        Listing-mode partitions have no manifest to carry the mapping
        and raise, same rule as delete_where."""
        p = Path(self._path(table))
        if not p.exists():
            raise ValueError(f"no such table {table!r}")
        if any(e.suffix == ".parquet" for e in p.iterdir()):
            raise ValueError(
                f"{table!r} holds bare (unpartitioned, listing-mode) files — "
                "no manifest can carry a column mapping; publish through the "
                "manifest protocol first"
            )
        changed = 0
        with self._exclusive_lock():
            for part in sorted(p.glob(f"{PARTITION_COL}=*")):
                manifest = self._manifest(part)
                if manifest is None:
                    if any(part.glob("*.parquet")):
                        raise ValueError(
                            f"partition {part.name} of {table!r} is in listing "
                            "mode (no manifest) — bring it under manifest "
                            "control before renaming/dropping columns"
                        )
                    continue
                if self._update_manifest(
                    part, lambda prior, part=part: update_fn(prior, part)
                ) is not None:
                    changed += 1
        return changed

    def _declared_or_footer_schema(self, part: Path, prior: dict):
        if prior.get("schema"):
            return _schema_from_json(prior["schema"])
        if prior["files"]:
            # legacy manifest: the footer schema (identity mapping) is
            # the declared schema it never wrote down
            return self.spark.read.parquet(str(part / prior["files"][0])).schema
        return None

    def rename_column(self, table: str, old: str, new: str) -> int:
        """RENAME COLUMN — metadata-only (the Delta column-mapping
        move): no data file is rewritten; the declared schema adopts
        the new LOGICAL name and ``colmap`` records the unchanged
        PHYSICAL name, so every existing file's bytes keep resolving
        to the column. Current reads surface the new name; ``read_at``
        before this commit surfaces the old (each journal body carries
        its own schema + mapping); type conflicts on later appends
        still raise (the logical merge is unchanged). Returns the
        number of partitions updated."""
        from pyspark.sql import types as T

        if PARTITION_COL in (old, new):
            raise ValueError(f"cannot rename the partition column {PARTITION_COL!r}")
        if old == new:
            return 0

        def upd(prior, part):
            if prior is None:
                return None
            schema = self._declared_or_footer_schema(part, prior)
            if schema is None:
                return None
            names = [f.name for f in schema.fields]
            if old not in names:
                return None  # subset partition: nothing to rename
            if new in names:
                raise ValueError(
                    f"rename_column({table!r}): {new!r} already exists"
                )
            colmap = dict(prior.get("colmap") or {})
            phys = colmap.pop(old, old)
            if phys != new:
                colmap[new] = phys
            fields = [
                T.StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in schema.fields
            ]
            return self._build_manifest_body(
                part,
                prior["files"],
                prior_stats=prior.get("stats"),
                schema_json=T.StructType(fields).json(),
                prior_rows=prior.get("rows"),
                product_seq=prior.get("product_seq"),
                dv=prior.get("dv"),
                colmap=colmap,
                dropped_physical=prior.get("dropped_physical"),
            )

        n = self._admin_schema_update(table, upd)
        if n:
            # constraints are declared on LOGICAL names: follow a
            # SUCCESSFUL rename only (rewriting first re-targeted the
            # spec at an unrelated column whenever the rename then
            # failed or matched nothing — review r10 wave 5). A crash
            # in the window between the two commits leaves the spec on
            # the old name: NOT NULL then fails writes loudly ("no
            # column"), but a CHECK on the absent column silently
            # passes every row (null passes by SQL's rule) — fsck
            # reports such dangling specs (constraints_dangling,
            # review r10 wave 6); heal with drop_constraint +
            # add_constraint under the new name.
            self._rename_in_constraints(table, old, new)
        return n

    def drop_column(self, table: str, col: str) -> int:
        """DROP COLUMN — metadata-only: the field leaves the declared
        schema and its PHYSICAL name is retired into
        ``dropped_physical`` (old files keep the bytes, no read ever
        projects them; pre-drop snapshots still read_at with the
        column). A LATER column re-added under the same logical name
        gets a FRESH physical name, so the dropped files' bytes can
        never resurrect under the new meaning — and a re-add with a
        DIFFERENT type is therefore legal, exactly the case the
        additive-only merge used to reject. Returns partitions
        updated."""
        from pyspark.sql import types as T

        if col == PARTITION_COL:
            raise ValueError(f"cannot drop the partition column {PARTITION_COL!r}")
        holders = [
            name
            for name, spec in self._table_constraints(table).items()
            if col in (spec.get("cols") or [c for c, _, _ in spec.get("preds", [])])
        ]
        if holders:
            # Delta's rule: a constrained column cannot be dropped out
            # from under its constraint — silently orphaning the spec
            # would make every later write fail as "column absent"
            raise ValueError(
                f"drop_column({table!r}): {col!r} is referenced by "
                f"constraint(s) {holders} — drop_constraint first"
            )

        def upd(prior, part):
            if prior is None:
                return None
            schema = self._declared_or_footer_schema(part, prior)
            if schema is None:
                return None
            names = [f.name for f in schema.fields]
            if col not in names:
                return None
            if len(names) == 1:
                raise ValueError(
                    f"drop_column({table!r}): {col!r} is the only column"
                )
            colmap = dict(prior.get("colmap") or {})
            phys = colmap.pop(col, col)
            dropped = set(prior.get("dropped_physical") or []) | {phys}
            fields = [f for f in schema.fields if f.name != col]
            return self._build_manifest_body(
                part,
                prior["files"],
                prior_stats=prior.get("stats"),
                schema_json=T.StructType(fields).json(),
                prior_rows=prior.get("rows"),
                product_seq=prior.get("product_seq"),
                dv=prior.get("dv"),
                colmap=colmap,
                dropped_physical=sorted(dropped),
            )

        return self._admin_schema_update(table, upd)

    def delete_product(self, product_id: int) -> None:
        """Cascading delete across all product tables (reference
        scdb.py:32–72): with product partitioning this is dropping one
        partition directory per table — O(1) metadata, not a scan."""
        import shutil

        for table in PRODUCT_TABLES:
            part_dir = Path(self._path(table)) / f"{PARTITION_COL}={product_id}"
            if part_dir.exists():
                shutil.rmtree(part_dir)

    #: The theme/dimension subset the reference's PARTIAL delete
    #: script touches (sql_scripts/delete_indicator_theme_product.sql)
    #: — prep for re-running a product with the insert flag; the
    #: remaining tables are overwritten by the append itself.
    THEME_TABLES = ["IndicatorTheme", "Dimensions", "DimensionValues"]

    def delete_theme_product(self, product_id: int) -> None:
        """Partial cascading delete — theme and dimension tables ONLY
        (reference sql_scripts/delete_indicator_theme_product.sql:
        ``DELETE FROM DimensionValues WHERE DimensionId IN (SELECT …)``
        then Dimensions, then IndicatorTheme), used before re-running
        a product with the ``-i`` insert flag; data in the remaining
        tables is overwritten by the append that follows.

        The reference needs the DimensionId subquery because its
        DimensionValues rows carry no product id; here every product
        table is partitioned by {PARTITION_COL}, so the subquery
        collapses to the same O(1) partition drop. The script's
        other care — parent themes/subjects must survive because
        other products still use them — holds by construction:
        ancestor rows live under their OWN IndicatorThemeId
        partitions, which this never touches."""
        import shutil

        for table in self.THEME_TABLES:
            part_dir = Path(self._path(table)) / f"{PARTITION_COL}={product_id}"
            if part_dir.exists():
                shutil.rmtree(part_dir)

    def describe(self, table: str) -> dict | None:
        """One-call ops summary of a table's CURRENT snapshot — the
        ``DESCRIBE DETAIL`` analog, driver-side manifest/stat reads
        only (no Spark job; borrowed by the Spark-free ``StoreMeta``
        for audit tooling): partition/file/byte totals, the
        metadata-only live row count (None when any file lacks a
        recorded count or a partition is in listing mode —
        ``count_rows`` then needs a scan), deletion-vector totals, the
        merged declared schema, column mapping, retired physical
        names, declared constraints, and history depth."""
        p = Path(self._path(table))
        if not p.exists():
            return None
        out: dict = {
            "partitions": 0,
            "listing_partitions": 0,
            "files": 0,
            "bytes": 0,
            "dv_files": 0,
            "dv_positions": 0,
            "history_entries": 0,
        }
        schema = None
        rows_known = 0
        rows_complete = True
        # legacy bare root-level files (the layout count_rows and
        # _live_files handle) — without this, an unpartitioned
        # listing-mode table reported a confidently wrong zero
        # (review r10 wave 9)
        root_files = [
            f
            for f in p.iterdir()
            if f.is_file() and f.suffix == ".parquet"
        ]
        if root_files:
            out["listing_partitions"] += 1
            out["files"] += len(root_files)
            rows_complete = False
            for f in root_files:
                try:
                    out["bytes"] += f.stat().st_size
                except OSError:
                    pass
        for part in sorted(p.glob(f"{PARTITION_COL}=*")):
            m = self._manifest(part)
            if m is None:
                names = [f for f in part.glob("*.parquet")]
                if names:
                    out["listing_partitions"] += 1
                    out["files"] += len(names)
                    rows_complete = False
                    for f in names:
                        try:
                            out["bytes"] += f.stat().st_size
                        except OSError:
                            pass
                continue
            out["partitions"] += 1
            out["files"] += len(m["files"])
            rows = m.get("rows") or {}
            dv = m.get("dv") or {}
            for n in m["files"]:
                try:
                    out["bytes"] += (part / n).stat().st_size
                except OSError:
                    pass
                if n in rows:
                    rows_known += int(rows[n]) - int(
                        (dv.get(n) or {}).get("count", 0)
                    )
                else:
                    rows_complete = False
            out["dv_files"] += len(dv)
            out["dv_positions"] += sum(int(e.get("count", 0)) for e in dv.values())
            if m.get("schema"):
                s = _schema_from_json(m["schema"])
                schema = s if schema is None else _merge_schemas(schema, s)
            # history depth = file count, no JSON parse (review r10
            # wave 9: a long-lived table's summary must not be
            # O(total journal bytes)); same name rules as
            # _history_entries (underscore-prefixed = control files)
            hist = part / "_history"
            if hist.exists():
                out["history_entries"] += sum(
                    1
                    for h in hist.glob("*.json")
                    if not h.name.startswith("_")
                )
        out["rows"] = rows_known if rows_complete else None
        out["schema"] = (
            [f"{f.name} {f.dataType.simpleString()}" for f in schema.fields]
            if schema is not None
            else None
        )
        # the SAME union rule reads use — and an audit tool must
        # SURFACE a torn rename, not last-partition-wins it away
        # (review r10 wave 9)
        try:
            colmap, dropped = self._table_colmap(p)
            out["colmap"] = colmap
            out["dropped_physical"] = sorted(dropped)
        except ValueError as e:
            out["colmap"] = None
            out["dropped_physical"] = None
            out["colmap_error"] = str(e)
        out["constraints"] = self._table_constraints(table)
        return out

    # -- S9: scalar service queries ---------------------------------------
    def max_id(self, table: str, col: str, exclude_product: int | None = None) -> int:
        """A1 high-water mark. ``exclude_product`` mirrors the
        reference's delete-before-MAX ordering (scdb.py:32–72 then
        :154–159): a replaced product's old ids don't count, so
        re-appends reuse the same id range (idempotent ids)."""
        df = self.read(table)
        if df is None:
            return 0
        if exclude_product is not None and PARTITION_COL in df.columns:
            df = df.filter(F.col(PARTITION_COL) != exclude_product)
        row = df.agg(F.max(col).alias("m")).first()
        return int(row["m"]) if row and row["m"] is not None else 0

    def read_product_slice(
        self, table: str, product_id: int, where=None
    ) -> DataFrame | None:
        """Serving-path read for one product, optionally filtered below
        product grain (SURVEY §2.14: the web app's PrimaryQuery-style
        reads filter to one indicator / date range / geo level). The
        product predicate skips other partitions at the driver; extra
        ``where`` predicates engage the manifest zone maps so only
        files that can match are ever listed into the plan."""
        w = [(PARTITION_COL, "==", product_id)] + list(where or [])
        return self.read(table, where=w)

    def read_other_products(self, table: str, product_id: int) -> DataFrame | None:
        """Current state EXCLUDING one product's partition — the
        post-delete view the reference's anti-joins see, and safe to
        scan lazily while that partition is being overwritten. The
        excluded partition's directory is skipped at the driver (the
        ``!=`` predicate proves a single-valued partition empty), so
        its files never even enter the plan's listing."""
        p = Path(self._path(table))
        if p.exists() and any(p.glob(f"{PARTITION_COL}=*")):
            return self.read(table, where=[(PARTITION_COL, "!=", product_id)])
        return self.read(table)

    def product_exists(self, product_id: int) -> bool:
        df = self.read("IndicatorTheme")
        if df is None:
            return False
        return (
            df.filter(F.col(PARTITION_COL) == product_id).limit(1).count() > 0
        )


class StoreMeta:
    """SPARK-FREE manifest / journal / deletion-vector metadata access
    over a store root — the same commit-backend reads ``TableStore``
    uses, minus the SparkSession. Exists for code that runs where no
    session is available (or allowed): the Python data source wrapper
    (``streaming/cdf_source.py``) plans its change windows on the
    driver and materializes file slices on EXECUTORS via pyarrow, and
    ops tooling can audit a root without paying a JVM. Methods are
    borrowed from ``TableStore`` directly — every one of them is
    plain-Python by construction (JSON + sidecar reads), so the two
    classes can never drift apart."""

    def __init__(self, root: str, backend: str | CommitBackend = "localfs"):
        self.root = root
        self._backend = make_backend(backend)
        # the same fail-fast layout check TableStore runs: opening a
        # CAS-formatted store with the default localfs backend reads
        # NO manifests at all — an ops audit would report "no changes"
        # and a store_cdf stream would silently emit nothing while its
        # checkpoint advances (review r9 wave 3)
        self._verify_format_tag()

    _path = TableStore._path
    FORMAT_TAG = TableStore.FORMAT_TAG
    _verify_format_tag = TableStore._verify_format_tag
    _detect_backend_layout = staticmethod(TableStore._detect_backend_layout)
    exists = TableStore.exists
    _manifest = TableStore._manifest
    # re-wrap: a borrowed @staticmethod resolves to a plain function,
    # which would rebind as an instance method here and eat `self`
    _history_entries = staticmethod(TableStore._history_entries)
    _pruned_until = staticmethod(TableStore._pruned_until)
    _append_history = staticmethod(TableStore._append_history)
    JOURNAL_REPAIR_GRACE_SECONDS = TableStore.JOURNAL_REPAIR_GRACE_SECONDS
    journal_pending_floor = TableStore.journal_pending_floor
    _dv_positions = TableStore._dv_positions
    _change_slices = TableStore._change_slices
    _table_colmap = TableStore._table_colmap
    # the epoch-append publish machinery is Spark-free end to end
    # (stats/blooms harvest via pyarrow, manifests via the commit
    # backend, the one legacy footer probe via _footer_schema's
    # pyarrow shim) — borrowed so the streaming SINK's commit hook,
    # which runs in a worker process with NO SparkSession, can claim
    # and publish a staged micro-batch exactly once (store_sink.py)
    bloom_cols: dict = {}
    _update_manifest = TableStore._update_manifest
    _exclusive_lock = TableStore._exclusive_lock
    _build_manifest_body = TableStore._build_manifest_body
    _footer_schema = TableStore._footer_schema
    _ledger_streams = staticmethod(TableStore._ledger_streams)
    _epoch_ledger = TableStore._epoch_ledger
    _claim_epoch = TableStore._claim_epoch
    _record_epoch = TableStore._record_epoch
    _publish_epoch = TableStore._publish_epoch
    _complete_claimed_epoch = TableStore._complete_claimed_epoch
    # constraint enforcement is footer-first and plain-Python; with no
    # session the scan fallback goes through pyarrow, so the sink's
    # commit worker enforces the same declared rules as every
    # Spark-side write (getattr(self, 'spark', None) is the switch)
    constraints = TableStore.constraints
    _table_constraints = TableStore._table_constraints
    _enforce_constraints = TableStore._enforce_constraints
    _scan_constraint_violations = TableStore._scan_constraint_violations
    _violation_expr = staticmethod(TableStore._violation_expr)
    # DESCRIBE DETAIL for audit tooling: manifest + stat reads only
    describe = TableStore.describe
    # the BATCH read plan (zone-map/bloom file pruning + DV selection
    # + union colmap + declared/probed schema merge) is Spark-free now
    # that _read_plan probes footers via _footer_schema — borrowed so
    # the batch data source (store_source.py) plans driver-side with
    # no session and can never disagree with TableStore.read about
    # what a predicate prunes
    _read_plan = TableStore._read_plan
    _prune_partition_files = staticmethod(TableStore._prune_partition_files)
    _live_files = TableStore._live_files
    live_files = TableStore.live_files

    def read_plan(self, table: str, where=None) -> tuple:
        """``(logical schema | None, colmap, pruned files, dv_sel)``
        for a snapshot read — the exact plan ``TableStore.read`` would
        execute, resolved session-free at CALL time (the batch data
        source calls this per query execution, which is what makes
        SQL views over the store reflect DML without re-registration).
        ``where`` arrives in logical names, like ``read``."""
        p = Path(self._path(table))
        if not p.exists():
            return None, {}, [], []
        return self._read_plan(p, where)

    def table_schema_colmap(self, table: str) -> tuple:
        """ONE manifest pass returning the merged declared LOGICAL
        payload schema AND the union column mapping — what
        ``TableStore.read`` would surface, derived without a session
        (manifest JSON only). The streaming source calls this once
        per microbatch; splitting it into schema and colmap sweeps
        would re-parse every manifest twice (review r9 wave 3)."""
        import functools

        p = Path(self._path(table))
        declared = []
        bodies = []
        if not p.exists():
            return None, {}
        for part in sorted(p.glob(f"{PARTITION_COL}=*")):
            m = self._manifest(part)
            if not m:
                continue
            bodies.append(m)
            if m.get("schema"):
                declared.append(_schema_from_json(m["schema"]))
        colmap, _ = _union_colmap(bodies, p.name)
        schema = functools.reduce(_merge_schemas, declared) if declared else None
        return schema, colmap

    def table_logical_schema(self, table: str):
        return self.table_schema_colmap(table)[0]


def apply_changes(base: DataFrame, changes: DataFrame) -> DataFrame:
    """Reconstruct the post-window snapshot from a pre-window snapshot
    plus a ``read_changes`` feed — the CDF consumer primitive:
    ``(base ∪ inserts) ∖ deletes`` with MULTISET semantics
    (``exceptAll``), which makes the application order-independent and
    exact even when identical rows repeat. Columns are aligned by name
    (schema evolution inside the window surfaces as nulls on older
    rows, matching what a fresh read of the new snapshot declares)."""
    payload = [c for c in changes.columns if c not in ("_change_type", "_committed_at")]
    ins = changes.filter(F.col("_change_type") == "insert").select(*payload)
    dels = changes.filter(F.col("_change_type") == "delete").select(*payload)
    merged = base.unionByName(ins, allowMissingColumns=True)
    cols = merged.columns
    return merged.exceptAll(
        dels.unionByName(merged.limit(0), allowMissingColumns=True).select(*cols)
    )


def write_jdbc(df: DataFrame, url: str, table: str, batchsize: int = 10000, **options) -> None:
    """S10 parity mode — bulk append to an external RDBMS, the analog
    of the reference's fast_executemany/chunksize=10000 path
    (scdb.py:27–30, 174–187)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**options)
        .mode("append")
        .save()
    )


class BucketedStore:
    """Bucketed managed tables for co-located fact-to-fact joins.

    The parquet ``TableStore`` covers the reference's product-replace
    lifecycle; THIS store covers the scale pattern the reference never
    needed: two fact tables repeatedly joined on the same key (e.g.
    values ⋈ bridge on IndicatorValueCode at 100 TB) should be written
    ``bucketBy(n, key)`` once so every later join is shuffle-free on
    both sides (SortMergeJoin over pre-bucketed scans, no Exchange).

    Uses the session's warehouse dir + in-memory catalog — no Hive
    server needed; ``saveAsTable`` is required because bucketing
    metadata lives in the table catalog, not in parquet files.
    """

    def __init__(self, spark: SparkSession, n_buckets: int = 32):
        self.spark = spark
        self.n_buckets = n_buckets

    def write(self, df: DataFrame, table: str, bucket_col: str, sort: bool = True) -> None:
        # drop catalog entry AND any stale location (a crashed earlier
        # write can leave the dir behind with no catalog entry, which
        # saveAsTable then refuses: LOCATION_ALREADY_EXISTS)
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        import shutil
        from pathlib import Path

        loc = Path(self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")) / table
        if loc.exists():
            shutil.rmtree(loc)
        # one file per bucket: repartition on the bucket column with
        # exactly n_buckets partitions (repartition and bucketBy share
        # the Murmur3 hash, so each write task holds one whole bucket).
        # With multiple files per bucket the reader can't trust the
        # sortBy ordering and re-Sorts above every bucketed scan — one
        # file per bucket makes later merge joins Sort-free as well as
        # Exchange-free.
        df = df.repartition(self.n_buckets, F.col(bucket_col))
        w = df.write.mode("overwrite").bucketBy(self.n_buckets, bucket_col)
        if sort:
            w = w.sortBy(bucket_col)
        w.format("parquet").saveAsTable(table)

    def read(self, table: str) -> DataFrame:
        return self.spark.table(table)

    def mirror_product(
        self, df: DataFrame, table: str, product_id: int, bucket_col: str
    ) -> None:
        """Per-product replace into a PARTITIONED + BUCKETED managed
        table — the co-located mirror of a TableStore fact table. The
        partition column keeps the product-replace lifecycle (drop one
        partition, append its successor); the bucket spec makes every
        later join on ``bucket_col`` between two mirrors shuffle-free
        on both sides. Storage is paid twice for these tables by
        design: the bucketed layout is written once per product replace
        and saves a full-table Exchange on every subsequent fact⋈fact
        read — the right trade when the read path (PrimaryQuery's
        values⋈bridge) runs many times per publish."""
        if PARTITION_COL not in df.columns:
            df = df.withColumn(PARTITION_COL, F.lit(product_id).cast("long"))
        if self.spark.catalog.tableExists(table):
            self.spark.sql(
                f"ALTER TABLE {table} DROP IF EXISTS "
                f"PARTITION ({PARTITION_COL}={product_id})"
            )
            mode = "append"
        else:
            # a fresh in-memory catalog may not know a table whose
            # warehouse dir survives from an earlier session — clear the
            # stale location or saveAsTable refuses (LOCATION_ALREADY_EXISTS)
            import shutil

            loc = Path(
                self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            ) / table.lower()
            if loc.exists():
                shutil.rmtree(loc)
            mode = "overwrite"
        (
            df.write.mode(mode)
            .partitionBy(PARTITION_COL)
            .bucketBy(self.n_buckets, bucket_col)
            .sortBy(bucket_col)
            .format("parquet")
            .saveAsTable(table)
        )
