"""StatCan Web Data Service client (SURVEY.md §2.1 S3–S7).

Driver-side REST I/O, kept thin by design (reference scwds.py). The
transport is injectable so tests (and offline runs) swap a canned
fetcher; response payloads become Spark DataFrames with explicit
nested schemas — never inferred.

Endpoints mirrored from the reference:
- getCubeMetadata            (scwds.py:186–202)  -> nested dim/member frame
- getCodeSets                (scwds.py:147–184)  -> 11 small lookup frames
- getChangedCubeList/{date}  (scwds.py:125–145)  -> changed product ids
- getFullTableDownloadCSV    (scwds.py:219–245)  -> zip url + fetch
- getChangedCubeData         (scwds.py:204–217)  -> daily delta zip (S7)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WDS_BASE = "https://www150.statcan.gc.ca/t1/wds/rest"

# Nested metadata schema (reference scwds.py:11–32, FIXTURES.md A2).
MEMBER_STRUCT = T.StructType(
    [
        T.StructField("memberId", T.IntegerType()),
        T.StructField("memberNameEn", T.StringType()),
        T.StructField("memberNameFr", T.StringType()),
        T.StructField("memberUomCode", T.ShortType()),
    ]
)
DIMENSION_STRUCT = T.StructType(
    [
        T.StructField("dimensionPositionId", T.IntegerType()),
        T.StructField("dimensionNameEn", T.StringType()),
        T.StructField("dimensionNameFr", T.StringType()),
        T.StructField("hasUom", T.BooleanType()),
        T.StructField("member", T.ArrayType(MEMBER_STRUCT)),
    ]
)
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("productId", T.LongType()),
        T.StructField("cubeTitleEn", T.StringType()),
        T.StructField("cubeTitleFr", T.StringType()),
        T.StructField("cubeStartDate", T.StringType()),
        T.StructField("cubeEndDate", T.StringType()),
        T.StructField("frequencyCode", T.IntegerType()),
        T.StructField("releaseTime", T.StringType()),
        T.StructField("subjectCode", T.ArrayType(T.StringType())),
        T.StructField("surveyCode", T.ArrayType(T.StringType())),
        T.StructField("dimension", T.ArrayType(DIMENSION_STRUCT)),
    ]
)

CODE_SET_NAMES = [
    "scalar", "frequency", "symbol", "status", "uom", "survey",
    "subject", "classificationType", "securityLevel", "terminated", "wdsResponseStatus",
]


def _default_fetcher(url: str, payload: dict | None = None) -> dict:
    """HTTP transport; only imported lazily so offline environments
    (and the test suite) never touch the network."""
    import requests  # noqa: PLC0415

    if payload is None:
        resp = requests.get(url, timeout=60)
    else:
        resp = requests.post(url, json=payload, timeout=60)
    resp.raise_for_status()
    return resp.json()


@dataclass
class WdsClient:
    spark: SparkSession
    fetcher: Callable[..., dict] = field(default=_default_fetcher)
    base_url: str = WDS_BASE

    # -- S3 ---------------------------------------------------------------
    def cube_metadata(self, product_id: int) -> DataFrame:
        """POST getCubeMetadata -> one-row nested DataFrame, built
        through Arrow so it plans as a JVM ``LocalTableScan``: a
        tuple-built frame plans as a Python-RDD scan, and every job
        that broadcasts it starts Python workers."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        body = self.fetcher(
            f"{self.base_url}/getCubeMetadata", [{"productId": product_id}]
        )
        obj = self._unwrap(body)
        row = {
            "productId": int(obj["productId"]),
            "cubeTitleEn": obj.get("cubeTitleEn"),
            "cubeTitleFr": obj.get("cubeTitleFr"),
            "cubeStartDate": obj.get("cubeStartDate"),
            "cubeEndDate": obj.get("cubeEndDate"),
            "frequencyCode": int(obj.get("frequencyCode", 12)),
            "releaseTime": obj.get("releaseTime"),
            "subjectCode": obj.get("subjectCode") or [],
            "surveyCode": obj.get("surveyCode") or [],
            "dimension": [
                {
                    "dimensionPositionId": int(d["dimensionPositionId"]),
                    "dimensionNameEn": d.get("dimensionNameEn"),
                    "dimensionNameFr": d.get("dimensionNameFr"),
                    "hasUom": bool(d.get("hasUom", False)),
                    "member": [
                        {
                            "memberId": int(m["memberId"]),
                            "memberNameEn": m.get("memberNameEn"),
                            "memberNameFr": m.get("memberNameFr"),
                            "memberUomCode": m.get("memberUomCode"),
                        }
                        for m in d.get("member", [])
                    ],
                }
                for d in obj.get("dimension", [])
            ],
        }
        table = pa.Table.from_pylist([row], schema=to_arrow_schema(METADATA_SCHEMA))
        return self.spark.createDataFrame(table, METADATA_SCHEMA)

    # -- S4 ---------------------------------------------------------------
    def code_sets(self) -> dict[str, DataFrame]:
        """getCodeSets -> one small broadcastable frame per code table."""
        body = self.fetcher(f"{self.base_url}/getCodeSets")
        obj = self._unwrap(body)
        out = {}
        for name in CODE_SET_NAMES:
            rows = obj.get(name, [])
            if rows:
                # keys are uniform per code set; schema from the first row
                cols = list(rows[0].keys())
                out[name] = self.spark.createDataFrame(
                    [tuple(r.get(c) for c in cols) for r in rows], cols
                )
        return out

    # -- S5 ---------------------------------------------------------------
    def changed_cubes(self, date_str: str) -> list[int]:
        """getChangedCubeList/{date} -> product ids changed that day."""
        body = self.fetcher(f"{self.base_url}/getChangedCubeList/{date_str}")
        obj = self._unwrap(body)
        return sorted({int(r["productId"]) for r in obj})

    # -- S6 ---------------------------------------------------------------
    def full_table_url(self, product_id: int, lang: str = "en") -> str:
        body = self.fetcher(
            f"{self.base_url}/getFullTableDownloadCSV/{product_id}/{lang}"
        )
        return self._unwrap(body)

    # -- S7 (unused by the reference's main, kept for parity) -------------
    def delta_file_url(self, date_str: str) -> str:
        body = self.fetcher(f"{self.base_url}/getChangedCubeData/{date_str}")
        return self._unwrap(body)

    @staticmethod
    def _unwrap(body):
        """WDS wraps everything as {status, object} (single or list);
        non-SUCCESS statuses raise (reference scwds.py:103–123)."""
        if isinstance(body, list):
            body = body[0]
        status = body.get("status")
        if status not in ("SUCCESS", 0, "0", None):
            raise RuntimeError(f"WDS failure status: {status}")
        return body.get("object", body)
