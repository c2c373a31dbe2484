"""Text-format scans: fixed-width (HRDF-style) and delimited CSV.

Spark-first re-expression of the reference's hand-rolled line parsers:

- HRDF fixed-width (reference get_atlas_data.py:658-773 GLEISE parse,
  :775-848 FPLAN, :850-872 BAHNHOF): positional substrings + token
  splits guarded by cheap prefix checks. Here: ``spark.read.text`` +
  codegen'd substring/regexp_extract columns; the cheap guards become
  pushed filters that run before the expensive extracts (Catalyst
  orders conjunctive predicates by cost).
- ATLAS CSV (reference matching_script.py:183, get_atlas_data.py:132):
  ';'-separated with explicit schema — no inference, ever
  (SURVEY.md §1.3). That is plain ``spark.read.csv(path, sep=";",
  header=True, schema=...)`` and needs no wrapper; the zipped variant
  is ``read_zip_csv`` below.

At 100 TB these scans parallelize by file split natively; the
reference's 500k-row chunk loop (get_atlas_data.py:205) is subsumed by
partitioned scanning.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class FixedWidthField:
    name: str
    start: int  # 1-based, inclusive (substring convention)
    length: int
    dtype: str = "string"  # Spark cast target


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[FixedWidthField],
    guards: list[Column] | None = None,
    comment_prefix: str | None = "%",
) -> DataFrame:
    """Fixed-width text -> typed columns.

    ``guards`` are cheap row predicates over the raw ``value`` column,
    applied before any extraction (the reference's substring guards,
    get_atlas_data.py:678-689).
    """
    raw = spark.read.text(path)
    if comment_prefix:
        raw = raw.filter(~F.col("value").startswith(comment_prefix))
    for g in guards or []:
        raw = raw.filter(g)
    # try_cast, not cast: under ANSI (Spark 4 default) a plain cast
    # turns ONE malformed line anywhere in the feed into a job-killing
    # CAST_INVALID_INPUT; the reference's pandas parse coerces bad
    # numerics to NaN instead. Malformed fields -> null, rows survive.
    cols = [
        F.trim(F.substring("value", f.start, f.length)).try_cast(f.dtype).alias(f.name)
        for f in fields
    ]
    return raw.select(*cols)


# The GLEISE_LV95-shaped layout used by tests (uic, kind flag, quoted
# name, trailing track number) — regex-extracted fields compose with the
# positional ones.
def read_hrdf_gleise_like(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.text(path).filter(~F.col("value").startswith("%"))
    guarded = raw.filter(F.substring("value", 10, 1) == "G")
    # try_cast: regexp_extract yields '' on no-match, which a plain
    # ANSI cast rejects as CAST_INVALID_INPUT — a track-less line must
    # parse with track=null, not kill the scan.
    return guarded.select(
        F.substring("value", 1, 7).try_cast("long").alias("uic"),
        F.regexp_extract("value", r"'([^']*)'", 1).alias("name"),
        F.regexp_extract("value", r"(\d+)\s*$", 1).try_cast("int").alias("track"),
    )


OSM_NODE_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.LongType()),
        T.StructField("_lat", T.DoubleType()),
        T.StructField("_lon", T.DoubleType()),
        T.StructField(
            "tag",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("_k", T.StringType()),
                        T.StructField("_v", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def read_osm_xml(
    spark: SparkSession,
    path: str,
    tag_keys: tuple[str, ...] = ("public_transport", "uic_ref", "name"),
) -> DataFrame:
    """OSM node XML -> (node_id, lat, lon, <one column per tag key>).

    Spark-first recast of the reference's driver-side ElementTree loop
    (reference get_osm_data.py:64-88: findall('.//node'), then a Python
    pass over './tag' children pivoting selected k/v pairs). Here the
    native XML source splits <node> elements across tasks, the explicit
    schema skips inference entirely (SURVEY.md §1.3: no schema
    inference, ever), and the k/v pivot is a per-key first-match
    filter + null-safe get — NOT map_from_entries, whose default
    dedup policy (EXCEPTION) lets ONE malformed node carrying a
    duplicate tag key fail the whole import; first occurrence wins
    instead, matching the reference's dict-overwrite-free iteration
    order. CodegenFallback on the higher-order filter is irrelevant
    off the hot path; the scan parallelizes by file split at 100 TB
    where the reference holds the whole country in one ElementTree.
    """
    raw = (
        spark.read.format("xml")
        .option("rowTag", "node")
        .schema(OSM_NODE_SCHEMA)
        .load(path)
    )
    tags = F.coalesce(
        F.col("tag"), F.array().cast(OSM_NODE_SCHEMA["tag"].dataType)
    )

    def _tag(k: str) -> Column:
        # F.get is null-on-missing under every ANSI setting (unlike
        # element_at, which raises for absent map keys under ANSI)
        return F.get(F.filter(tags, lambda t: t["_k"] == k), 0)["_v"]

    cols = [
        F.col("_id").alias("node_id"),
        F.col("_lat").alias("lat"),
        F.col("_lon").alias("lon"),
    ] + [_tag(k).alias(k) for k in tag_keys]
    return raw.select(*cols)


def read_zip_csv(
    spark: SparkSession,
    path: str,
    inner_suffix: str,
    schema: T.StructType,
    sep: str = ",",
) -> DataFrame:
    """CSV-inside-zip importer (S6, the local half).

    The reference downloads GTFS/HRDF/ATLAS zips and extracts them on
    the driver (reference get_atlas_data.py:114-163,578-656;
    get_osm_data.py:14-50). The network fetch stays out of scope (the
    engine's input is a table); the EXTRACTION is recast distributed:
    ``binaryFile`` ships each zip to a task, and an Arrow batch opens
    it in-memory and parses every member matching ``inner_suffix`` with
    the supplied schema — no driver-side tempdir, no inference. One zip
    archive = one task, so a directory of daily zips parallelizes by
    file; a single giant zip is the degenerate case (document: re-pack
    or pre-extract for split-level parallelism).
    """
    import io
    import zipfile

    import pandas as pd

    names = [f.name for f in schema.fields]

    def _extract(it):
        for pdf in it:
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    for member in zf.namelist():
                        if not member.endswith(inner_suffix):
                            continue
                        with zf.open(member) as fh:
                            # utf-8-sig: GTFS explicitly permits a BOM
                            # (and Excel emits one); plain utf-8 would
                            # leave U+FEFF glued to the first header
                            # name and fail the by-name bind below on a
                            # spec-compliant feed
                            out = pd.read_csv(
                                io.TextIOWrapper(fh, encoding="utf-8-sig"),
                                sep=sep,
                                header=0,
                                dtype=object,
                            )
                        # bind by HEADER NAME, not position: GTFS allows
                        # arbitrary column order per member (the
                        # reference also reads by name via pandas).
                        # Missing schema columns are an error, never a
                        # silent scramble; extra member columns drop.
                        missing = [c for c in names if c not in out.columns]
                        if missing:
                            raise ValueError(
                                f"zip member {member!r} lacks column(s) "
                                f"{missing}; found {list(out.columns)}"
                            )
                        yield out[names]

    raw = spark.read.format("binaryFile").load(path).select("content")
    parsed = raw.mapInPandas(
        _extract, schema=T.StructType([T.StructField(f.name, T.StringType()) for f in schema.fields])
    )
    # try_cast, not cast: under Spark 4 ANSI one malformed numeric cell
    # in any zip member ('unknown' in a lat column) would throw
    # CAST_INVALID_INPUT and kill the whole import; try_cast nulls the
    # cell (the CLAUDE.md text-feed rule, same as read_fixed_width)
    return parsed.select(
        *[
            F.col(f.name).try_cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
