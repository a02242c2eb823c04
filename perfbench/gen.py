"""Seeded inputs shaped like one StatCan cube, and the outputs the ETL
must produce from them.

Everything here is pure Python: the benchmark builds Spark frames from
these rows, and checks what the program wrote or returned against the
predictions below, which come from the generator alone (never from the
program under test).

The cube follows the WDS full-table CSV layout: nine core columns, then
one column per dimension. Its dirt is the kind the write side repairs:
null values carrying a status symbol, DGUIDs missing from
GeographyReference (orphans), and REF_DATE written as ``YYYY``,
``YYYY/YYYY`` or ``YYYY/YY``.
"""

from __future__ import annotations

import csv
import itertools
import random
from dataclasses import dataclass, field

# Subject 17 (population), not a justice product: no DGUID repair and
# no mixed-geography filter, so every row from 2016 on survives.
PID = 17100005
FIRST_YEAR = 2016

CORE_COLUMNS = ["REF_DATE", "DGUID", "UOM", "UOM_ID", "VECTOR", "COORDINATE", "STATUS", "SYMBOL", "VALUE"]
DIMENSION_NAMES = ["Age group", "Household type", "Statistics"]
NULL_REASONS = [(1, "..", "not available"), (2, "x", "suppressed"), (3, "F", "too unreliable")]
SUPPRESSED = 2
UOMS = [(223, "Percent", "Pourcentage"), (249, "Persons", "Personnes")]
LEVELS = [
    ("A0000", "Country", "Pays"),
    ("A0002", "Province", "Province"),
    ("A0003", "Census division", "Division de recensement"),
    ("S0503", "Census metropolitan area", "Région métropolitaine de recensement"),
    ("SSSS", "Web display", "Affichage web"),
]
PROVINCES = [10, 11, 12, 13, 24, 35, 46, 47, 48, 59, 60, 61, 62]


@dataclass(frozen=True)
class Shape:
    """The benchmark's cube: 40 x 240 x 5 = 48,000 value rows."""

    geos: int = 40
    orphans: int = 2
    members: tuple[int, ...] = (8, 6, 5)
    periods: int = 5
    null_share: float = 0.05


def _dguids(n: int) -> list[str]:
    """Canada, then provinces, then CMAs and census divisions in turn."""
    out = ["2016A000011124"]
    out += [f"2016A0002{p}" for p in PROVINCES[: max(0, n - 1)]]
    i = 0
    while len(out) < n:
        out.append(f"2016S0503{i + 1:03d}" if i % 2 == 0 else f"2016A0003{1001 + i:04d}")
        i += 1
    return out


@dataclass
class Cube:
    """One generated product: its inputs and the expected outputs."""

    shape: Shape
    geos: list[str] = field(default_factory=list)
    orphans: list[str] = field(default_factory=list)
    # IndicatorCode -> (a, b, c, year)
    indicators: dict[str, tuple] = field(default_factory=dict)
    # IndicatorValueCode -> (IndicatorCode, DGUID, Value, NullReasonId)
    # for every row that must land in IndicatorValues
    values: dict[str, tuple] = field(default_factory=dict)
    csv_rows: list[list] = field(default_factory=list)

    # ---------------------------------------------------------- inputs
    @property
    def years(self) -> list[int]:
        return list(range(FIRST_YEAR, FIRST_YEAR + self.shape.periods))

    def metadata_response(self) -> list[dict]:
        """The getCubeMetadata body WDS would return for this cube."""
        geo_members = [
            {"memberId": i + 1, "memberNameEn": d, "memberNameFr": d}
            for i, d in enumerate(self.geos + self.orphans)
        ]
        dims = [
            {
                "dimensionPositionId": 1,
                "dimensionNameEn": "Geography",
                "dimensionNameFr": "Géographie",
                "hasUom": False,
                "member": geo_members,
            }
        ]
        last = len(DIMENSION_NAMES) - 1
        for pos, (name, n) in enumerate(zip(DIMENSION_NAMES, self.shape.members)):
            members = []
            for m in range(1, n + 1):
                member = {"memberId": m, "memberNameEn": f"{name} {m}", "memberNameFr": f"{name} {m} (fr)"}
                if pos == last:
                    member["memberUomCode"] = UOMS[m % len(UOMS)][0]
                members.append(member)
            dims.append(
                {
                    "dimensionPositionId": pos + 2,
                    "dimensionNameEn": name,
                    "dimensionNameFr": f"{name} (fr)",
                    "hasUom": pos == last,
                    "member": members,
                }
            )
        return [
            {
                "status": "SUCCESS",
                "object": {
                    "productId": PID,
                    "cubeTitleEn": "Population characteristics",
                    "cubeTitleFr": "Caractéristiques de la population",
                    "cubeStartDate": f"{self.years[0]}-01-01",
                    "cubeEndDate": f"{self.years[-1]}-01-01",
                    "frequencyCode": 12,
                    "releaseTime": "2024-02-01T08:30",
                    "subjectCode": ["1710"],
                    "surveyCode": ["3604"],
                    "dimension": dims,
                },
            }
        ]

    def fetcher(self, url: str, payload=None):
        """Canned WDS transport, passed as ``WdsClient(fetcher=...)``."""
        if url.endswith("/getCubeMetadata"):
            return self.metadata_response()
        raise ValueError(f"no canned WDS response for {url}")

    def write_csv(self, path: str) -> None:
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(CORE_COLUMNS + ["Geography"] + DIMENSION_NAMES)
            w.writerows(self.csv_rows)

    def lookups(self) -> dict[str, tuple[list[tuple], str]]:
        """Lookup tables the pipeline reads from the warehouse, as
        (rows, DDL schema)."""
        return {
            "GeographyReference": (
                [
                    (d, f"Place {d}", f"Lieu {d}", d[4:9], f"POLYGON(({i} {i}))")
                    for i, d in enumerate(self.geos)
                ],
                "GeographyReferenceId string, DisplayNameShort_EN string, "
                "DisplayNameShort_FR string, GeographicLevelId string, Shape string",
            ),
            "GeographicLevel": (
                LEVELS,
                "GeographicLevelId string, LevelName_EN string, LevelName_FR string",
            ),
            "IndicatorNullReason": (
                NULL_REASONS,
                "NullReasonId int, Symbol string, Description_EN string",
            ),
            "UomCodes": (
                UOMS,
                "memberUomCode int, memberUomEn string, memberUomFr string",
            ),
            "SubjectCodes": (
                [
                    ("17", "Population and demography", "Population et démographie"),
                    ("1710", "Population and demography/Population estimates",
                     "Population et démographie/Estimations de la population"),
                ],
                "subjectCode string, subjectEn string, subjectFr string",
            ),
        }

    # ---------------------------------------------------- expectations
    def table_rows(self) -> dict[str, int]:
        """Row counts per star table after one insert of this cube."""
        n_ind = len(self.indicators)
        levels = {d[4:9] for d in self.geos + self.orphans}
        return {
            "IndicatorTheme": 5,  # product, 4- and 2-digit subjects, two selectors
            "Dimensions": len(DIMENSION_NAMES) + 1,  # plus Date
            "DimensionValues": sum(self.shape.members) + self.shape.periods,
            "Indicators": n_ind,
            "IndicatorValues": len(self.values),
            "GeographyReferenceForIndicator": len(self.values),
            # levels seen in the CSV (orphans included) plus the web row
            "GeographicLevelForIndicator": (len(levels) + 1) * n_ind,
            "IndicatorMetaData": n_ind,
            "RelatedCharts": n_ind,
        }

    def related_codes(self, code: str) -> list[str]:
        """Indicators sharing the code with the middle dimension
        wildcarded: the RelatedCharts group (at most 10 members)."""
        a, _, c, y = self.indicators[code]
        return [
            ic for ic, (a2, _, c2, y2) in self.indicators.items() if (a2, c2, y2) == (a, c, y)
        ]


def generate(seed: int, shape: Shape = Shape()) -> Cube:
    rng = random.Random(seed)
    cube = Cube(shape=shape)
    cube.geos = _dguids(shape.geos)
    cube.orphans = [f"2016A000399{i:02d}" for i in range(shape.orphans)]
    combos = list(itertools.product(*[range(1, n + 1) for n in shape.members]))
    for (a, b, c), y in itertools.product(combos, cube.years):
        cube.indicators[f"{PID}.{a}.{b}.{c}.{y}-01-01"] = (a, b, c, y)
    symbol_id = {s: i for i, s, _ in NULL_REASONS}
    orphan_set = set(cube.orphans)
    vector = 0
    for g, dguid in enumerate(cube.geos + cube.orphans, start=1):
        for a, b, c in combos:
            vector += 1
            uom_id, uom_en, _ = UOMS[c % len(UOMS)]
            for y in cube.years:
                form = rng.randrange(3)
                ref_date = str(y) if form == 0 else (
                    f"{y - 1}/{y}" if form == 1 else f"{y - 1}/{y % 100:02d}"
                )
                if rng.random() < shape.null_share:
                    status, value = rng.choice(NULL_REASONS)[1], None
                else:
                    status, value = "", round(rng.uniform(0.0, 1000.0), 1)
                cube.csv_rows.append(
                    [ref_date, dguid, uom_en, uom_id, f"v{vector}", f"{g}.{a}.{b}.{c}",
                     status, "", "" if value is None else value, dguid,
                     f"{DIMENSION_NAMES[0]} {a}", f"{DIMENSION_NAMES[1]} {b}",
                     f"{DIMENSION_NAMES[2]} {c}"]
                )
                if dguid not in orphan_set:
                    ind = f"{PID}.{a}.{b}.{c}.{y}-01-01"
                    cube.values[f"{dguid}.{ind}"] = (ind, dguid, value, symbol_id.get(status))
    return cube
