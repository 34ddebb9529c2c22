"""Shipped IMDB / JOB-light dataset declarations — the real-dataset
schemas the reference registers so its own benchmark CSVs run without
hand-written schema code (reference: scardina/datasets.py:585-782 for
full IMDB, :812-890 for the JOB-light keep-lists, :786-806 and :900 for
the expected sub-join sizes).

A user with the standard JOB ``imdb/*.csv`` export points
:func:`load_imdb_tables` at the directory and gets back exactly the
relations the reference trains and estimates over: the same keep-lists
(columns the reference comments out are never read), the same
force-to-string casts for the two mixed-type ``info``/``note`` columns,
and a :class:`~.schema.SchemaGraph` wired with the same PK→FK edges —
so ``prep``/``train-join``/``estimate`` and the job-light benchmark CSV
run unchanged on the real data.

Scale notes: the CSVs are read once with projection at the source
(``load_csv_table``); :func:`stage_imdb_parquet` converts them to
parquet a single time so every later scan gets column pruning, predicate
pushdown, and real parallelism (a 36 M-row ``cast_info`` CSV is one
splittable-but-slow text scan; its parquet twin is a columnar scan).
``load_imdb_tables`` prefers the staged parquet when present.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import load_csv_table
from .schema import SchemaGraph

# ---------------------------------------------------------------------------
# table declarations: (row count, keep-list) per reference datasets.py:585-782
# ---------------------------------------------------------------------------

#: Full IMDB — 15 tables.  Keep-lists mirror the reference's col_names
#: exactly (commented-out columns there are omitted here).
IMDB_TABLES: dict[str, tuple[int, list[str]]] = {
    "kind_type": (7, ["id", "kind"]),
    "title": (2_528_313, [
        "id", "title", "imdb_index", "kind_id", "production_year",
        "phonetic_code", "season_nr", "episode_nr", "series_years"]),
    "movie_companies": (2_609_129, [
        "movie_id", "company_id", "company_type_id", "note"]),
    "company_name": (234_997, ["id", "name", "country_code"]),
    "company_type": (4, ["id", "kind"]),
    "aka_title": (361_472, ["movie_id"]),
    "cast_info": (36_244_344, [
        "person_id", "movie_id", "person_role_id", "note", "nr_order",
        "role_id"]),
    "movie_info": (14_835_720, [
        "movie_id", "info_type_id", "info", "note"]),
    "movie_info_idx": (1_380_035, ["movie_id", "info_type_id", "info"]),
    "info_type": (113, ["id", "info"]),
    "complete_cast": (135_086, ["movie_id", "subject_id", "status_id"]),
    "comp_cast_type": (4, ["id", "kind"]),
    "movie_keyword": (4_523_930, ["movie_id", "keyword_id"]),
    "keyword": (134_170, ["id", "keyword", "phonetic_code"]),
    "movie_link": (29_997, ["movie_id", "linked_movie_id",
                            "link_type_id"]),
}

#: PK→FK edges, reference datasets.py:763-781.
IMDB_RELATIONSHIPS: list[tuple[str, str, str, str]] = [
    ("kind_type", "id", "title", "kind_id"),
    ("title", "id", "aka_title", "movie_id"),
    ("title", "id", "movie_companies", "movie_id"),
    ("title", "id", "cast_info", "movie_id"),
    ("title", "id", "movie_info", "movie_id"),
    ("title", "id", "movie_info_idx", "movie_id"),
    ("title", "id", "complete_cast", "movie_id"),
    ("title", "id", "movie_keyword", "movie_id"),
    ("title", "id", "movie_link", "movie_id"),
    ("company_name", "id", "movie_companies", "company_id"),
    ("company_type", "id", "movie_companies", "company_type_id"),
    ("info_type", "id", "movie_info_idx", "info_type_id"),
    ("comp_cast_type", "id", "complete_cast", "subject_id"),
    ("keyword", "id", "movie_keyword", "keyword_id"),
    ("link_type", "id", "movie_link", "link_type_id"),
]
# link_type is referenced but absent from the full keep-list table above
IMDB_TABLES["link_type"] = (18, ["id", "link"])

#: Mixed-type columns the reference forces to string
#: (datasets.py type_casts: pa.string()).
IMDB_TYPE_CASTS: dict[str, dict[str, str]] = {
    "movie_info": {"note": "string"},
    "movie_info_idx": {"info": "string"},
}

#: JOB-light — the 6-table subset with tighter keep-lists
#: (reference datasets.py:812-890).
JOB_LIGHT_TABLES: dict[str, tuple[int, list[str]]] = {
    "title": (2_528_313, ["id", "kind_id", "production_year"]),
    "movie_companies": (2_609_129, [
        "movie_id", "company_id", "company_type_id"]),
    "cast_info": (36_244_344, ["movie_id", "role_id"]),
    "movie_info": (14_835_720, ["movie_id", "info_type_id"]),
    "movie_info_idx": (1_380_035, ["movie_id", "info_type_id"]),
    "movie_keyword": (4_523_930, ["movie_id", "keyword_id"]),
}

JOB_LIGHT_RELATIONSHIPS: list[tuple[str, str, str, str]] = [
    ("title", "id", "movie_companies", "movie_id"),
    ("title", "id", "cast_info", "movie_id"),
    ("title", "id", "movie_info", "movie_id"),
    ("title", "id", "movie_info_idx", "movie_id"),
    ("title", "id", "movie_keyword", "movie_id"),
]

#: The reference's recorded sub-join sizes (datasets.py:786-806) —
#: outer-join sizes with dangling FK-side rows kept, keyed by the same
#: subschema names our SchemaGraph.cin_subschemas produces.
IMDB_SUBSCHEMA_SIZES: dict[str, int] = {
    "title:kind_id=kind_type.id": 2_528_314,
    "aka_title:movie_id=title.id": 2_684_154,
    "cast_info:movie_id=title.id": 36_441_056,
    "complete_cast:movie_id=title.id:subject_id=comp_cast_type.id":
        2_569_887,
    "movie_companies:company_id=company_name.id:"
    "company_type_id=company_type.id:movie_id=title.id": 4_050_208,
    "movie_info:movie_id=title.id": 14_895_208,
    "movie_info_idx:info_type_id=info_type.id:movie_id=title.id":
        3_448_531,
    "movie_keyword:keyword_id=keyword.id:movie_id=title.id": 6_575_449,
    "movie_link:link_type_id=link_type.id:movie_id=title.id": 2_551_901,
}

#: reference datasets.py:900 (load_imdb_job_light_pj).
JOB_LIGHT_SUBSCHEMA_SIZES: dict[str, int] = {
    "movie_companies:movie_id=title.id": 4_050_206,
    "cast_info:movie_id=title.id": 36_441_056,
    "movie_info:movie_id=title.id": 14_895_208,
    "movie_info_idx:movie_id=title.id": 3_448_423,
    "movie_keyword:movie_id=title.id": 6_575_449,
}


def build_imdb_schema() -> SchemaGraph:
    """The full 15-table IMDB SchemaGraph with the reference's sizes."""
    sg = SchemaGraph("imdb")
    for t, (size, cols) in IMDB_TABLES.items():
        sg.add_table(t, size=size, col_names=cols,
                     pk="id" if "id" in cols else None)
    for e in IMDB_RELATIONSHIPS:
        sg.add_relationship(*e)
    return sg


def build_job_light_schema() -> SchemaGraph:
    """The 6-table JOB-light SchemaGraph with the reference's sizes."""
    sg = SchemaGraph("imdb-job-light")
    for t, (size, cols) in JOB_LIGHT_TABLES.items():
        sg.add_table(t, size=size, col_names=cols,
                     pk="id" if "id" in cols else None)
    for e in JOB_LIGHT_RELATIONSHIPS:
        sg.add_relationship(*e)
    return sg


def _tables_for(schema: SchemaGraph) -> dict[str, tuple[int, list[str]]]:
    return (JOB_LIGHT_TABLES if schema.name == "imdb-job-light"
            else IMDB_TABLES)


def load_imdb_tables(spark: SparkSession, data_dir: str,
                     schema: SchemaGraph | None = None,
                     ) -> dict[str, DataFrame]:
    """Load the IMDB relations for ``schema`` (default: full IMDB) from
    ``data_dir`` — staged parquet (``<table>.parquet``, preferred) or
    the standard JOB CSV export (``<table>.csv``, headered,
    backslash-escaped — the reference's read protocol,
    scardina/datasets.py:91-93).  Applies the keep-list projection at
    the source and the reference's force-to-string casts for the two
    mixed-type columns."""
    schema = schema or build_imdb_schema()
    out: dict[str, DataFrame] = {}
    for t, (_, cols) in _tables_for(schema).items():
        pq_path = os.path.join(data_dir, f"{t}.parquet")
        csv_path = os.path.join(data_dir, f"{t}.csv")
        if os.path.exists(pq_path):
            df = spark.read.parquet(pq_path).select(*cols)
        elif os.path.exists(csv_path):
            df = load_csv_table(spark, csv_path, columns=cols)
        else:
            raise FileNotFoundError(
                f"{t}: neither {pq_path} nor {csv_path} exists")
        for c, typ in IMDB_TYPE_CASTS.get(t, {}).items():
            if c in cols:
                df = df.withColumn(c, F.col(c).cast(typ))
        out[t] = df
    return out


def stage_imdb_parquet(spark: SparkSession, csv_dir: str, out_dir: str,
                       schema: SchemaGraph | None = None) -> dict[str, int]:
    """One-time CSV→parquet staging (projection applied, so the staged
    files hold only the keep-list columns).  Returns row counts per
    table.  Every subsequent :func:`load_imdb_tables` against
    ``out_dir`` gets columnar scans with pruning and pushdown — the
    scan shape that matters at the 36 M-row cast_info and beyond."""
    schema = schema or build_imdb_schema()
    counts: dict[str, int] = {}
    for t, (_, cols) in _tables_for(schema).items():
        df = load_csv_table(spark, os.path.join(csv_dir, f"{t}.csv"),
                            columns=cols)
        for c, typ in IMDB_TYPE_CASTS.get(t, {}).items():
            if c in cols:
                df = df.withColumn(c, F.col(c).cast(typ))
        path = os.path.join(out_dir, f"{t}.parquet")
        df.write.mode("overwrite").parquet(path)
        counts[t] = spark.read.parquet(path).count()
    return counts
