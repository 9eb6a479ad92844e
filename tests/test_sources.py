"""Reader/sink round-trips over the reference's source formats
(SURVEY.md §2.1): ;-CSV, ::-dat, whole-file, quoted CSV sink."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from bigdatamining_graduate_spark.sources import readers, sinks


def test_read_delimited_semicolon(spark, tmp_path):
    p = tmp_path / "power.txt"
    p.write_text("1.5;2.5;x\n3.0;4.0;y\n")
    schema = T.StructType(
        [
            T.StructField("a", T.DoubleType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.StringType()),
        ]
    )
    df = readers.read_delimited(spark, str(p), schema, sep=";")
    rows = sorted(df.collect())
    assert [tuple(r) for r in rows] == [(1.5, 2.5, "x"), (3.0, 4.0, "y")]


def test_read_delimited_multi_path(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"part{i}.csv").write_text(f"{i},v{i}\n")
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    df = readers.read_delimited(
        spark, [str(tmp_path / f"part{i}.csv") for i in range(3)], schema
    )
    assert df.count() == 3


def test_read_double_colon_dat(spark, tmp_path):
    p = tmp_path / "ratings.dat"
    p.write_text("1::1193::5::978300760\n2::661::3::978302109\n")
    schema = T.StructType(
        [
            T.StructField("UserID", T.IntegerType()),
            T.StructField("MovieID", T.IntegerType()),
            T.StructField("Rating", T.DoubleType()),
            T.StructField("Timestamp", T.LongType()),
        ]
    )
    df = readers.read_multichar_delimited(spark, str(p), schema, sep="::")
    rows = sorted(df.collect())
    assert [tuple(r) for r in rows] == [
        (1, 1193, 5.0, 978300760),
        (2, 661, 3.0, 978302109),
    ]


def test_read_whole_files(spark, tmp_path):
    (tmp_path / "a.sgm").write_text("<BODY>alpha</BODY>")
    (tmp_path / "b.sgm").write_text("<BODY>beta</BODY>")
    df = readers.read_whole_files(spark, str(tmp_path / "*.sgm"))
    rows = {r["file"].rsplit("/", 1)[-1]: r["content"] for r in df.collect()}
    assert rows == {"a.sgm": "<BODY>alpha</BODY>", "b.sgm": "<BODY>beta</BODY>"}


def test_from_pandas_roundtrip(spark):
    pdf = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    df = readers.from_pandas(spark, pdf)
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_csv_sink_roundtrip(spark, tmp_path):
    pdf = pd.DataFrame({"k": [1, 2], "s": ["x,y", 'q"z']})
    df = readers.from_pandas(spark, pdf)
    out = str(tmp_path / "out")
    sinks.write_csv(df, out, header=True, quote_all=True, single_file=True)
    back = spark.read.option("header", True).option("escape", '"').csv(out)
    assert sorted(tuple(r) for r in back.collect()) == [("1", "x,y"), ("2", 'q"z')]


def test_jsonl_roundtrip(spark, tmp_path):
    from bigdatamining_graduate_spark.sources.catalog import SCHEMAS, load_table
    from bigdatamining_graduate_spark.sources.readers import read_jsonl
    from bigdatamining_graduate_spark.sources.sinks import write_jsonl
    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    p = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, p)
    back = read_jsonl(spark, p, SCHEMAS["documents"])
    assert back.count() == docs.count()
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC source/sink round-trip, plus proof the scan keeps parquet-class
    optimizations: the filter appears as a PushedFilters entry in the
    physical plan."""
    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.sources.readers import read_orc
    from bigdatamining_graduate_spark.sources.sinks import write_orc

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("g"), (F.col("id") * 2.0).alias("v")
    )
    path = str(tmp_path / "orc_out")
    write_orc(df, path, partition_by=["g"])
    back = read_orc(spark, path)
    assert back.count() == 100
    assert {r["id"] for r in back.collect()} == set(range(100))
    plan = back.filter(F.col("id") > 90)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,90)]" in plan, plan
    # partition pruning: only one of five hive partitions scanned
    pruned = back.filter(F.col("g") == 3)
    assert pruned.count() == 20


def test_zorder_write_tightens_file_bboxes(spark, tmp_path):
    """``zorder_write`` is the production twin of q87's layout audit: the
    FILES ON DISK (not a simulated cut) must carry tighter per-file
    (user-bucket, hour) bounding boxes than the same rows written in
    insertion order — that bbox is exactly the parquet min/max stat a
    data-skipping reader prunes on."""
    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.sources.catalog import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select(
            "event_id",
            (F.col("user_id") % 32).alias("ux"),
            F.hour("ts").alias("hy"),
        )
    )

    def mean_file_bbox(path: str) -> float:
        got = spark.read.parquet(path).select(
            F.input_file_name().alias("f"), "ux", "hy"
        )
        return (
            got.groupBy("f")
            .agg(
                (
                    (F.max("ux") - F.min("ux") + 1)
                    * (F.max("hy") - F.min("hy") + 1)
                ).alias("bbox")
            )
            .agg(F.avg("bbox"))
            .collect()[0][0]
        )

    zpath = str(tmp_path / "zorder")
    sinks.zorder_write(ev, zpath, dims=["ux", "hy"], bits=5, num_files=8)
    naive_path = str(tmp_path / "naive")
    ev.repartitionByRange(8, "event_id").sortWithinPartitions(
        "event_id"
    ).write.parquet(naive_path)

    z_bbox = mean_file_bbox(zpath)
    naive_bbox = mean_file_bbox(naive_path)
    assert z_bbox < naive_bbox, (z_bbox, naive_bbox)


def test_manifest_pruning_skips_files_and_preserves_results(spark, tmp_path):
    """Data-skipping loop: zorder_write -> collect_manifest -> pruned_read.
    On a z-clustered layout a small box must prune MOST files, and the
    pruned read must return exactly the rows a full-scan filter returns."""
    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.sources import manifest as M
    from bigdatamining_graduate_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id",
        (F.col("user_id") % 32).alias("ub"),
        F.hour("ts").alias("hy"),
    )
    path = str(tmp_path / "zev")
    sinks.zorder_write(ev, path, dims=["ub", "hy"], bits=5, num_files=16)

    man = M.collect_manifest(spark, path, ["ub", "hy"])
    n_files = man.count()
    assert n_files >= 8

    ranges = {"ub": (3, 5), "hy": (0, 4)}
    kept = M.prune_files(man, ranges)
    assert 0 < len(kept) < n_files / 2, (
        f"z-layout should prune most files: kept {len(kept)}/{n_files}"
    )

    got = sorted(
        r["event_id"] for r in M.pruned_read(spark, path, man, ranges).collect()
    )
    exp = sorted(
        r["event_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("ub").between(3, 5) & F.col("hy").between(0, 4))
        .collect()
    )
    assert got == exp and len(got) > 0


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Appended batches gain columns over a corpus's life; a reader with
    mergeSchema must union the schemas (missing fields null), and the
    default reader must still work pinned to the latest batch's schema —
    the snapshot-evolution contract a 100 TB corpus needs."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.range(0, 10).select(F.col("id"), F.lit("a").alias("v1")).write.parquet(f"{p}/b1")
    spark.range(10, 20).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    ).write.parquet(f"{p}/b2")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{p}/b1", f"{p}/b2")
    assert set(merged.columns) == {"id", "v1", "v2"}
    assert merged.count() == 20
    assert merged.filter(F.col("v2").isNull()).count() == 10


def test_append_manifest_stats_only_new_files(spark, tmp_path):
    """Incremental manifest maintenance: appending a new batch re-stats
    ONLY the new files; existing rows carry over and pruning still sees
    the full layout."""
    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.sources import manifest as M

    p = str(tmp_path / "inc")
    spark.range(0, 100).select(F.col("id"), (F.col("id") % 10).alias("b")).coalesce(
        2
    ).write.parquet(p)
    man1 = M.collect_manifest(spark, p, ["id"])
    n1 = man1.count()
    # append a second batch of files into the same directory
    spark.range(100, 200).select(F.col("id"), (F.col("id") % 10).alias("b")).coalesce(
        2
    ).write.mode("append").parquet(p)
    man2 = M.append_manifest(spark, p, man1, ["id"])
    n2 = man2.count()
    assert n2 > n1
    # no-op append: nothing new to stat
    assert M.append_manifest(spark, p, man2, ["id"]).count() == n2
    # pruning over the incrementally-built manifest covers the new range
    kept = M.prune_files(man2, {"id": (150, 160)})
    assert kept
    got = sorted(r["id"] for r in M.pruned_read(spark, p, man2, {"id": (150, 160)}).collect())
    assert got == list(range(150, 161))


def test_delimtext_datasource_matches_expression_reader(spark, tmp_path):
    """The custom Python DataSource (Spark 4 extension point) and the
    expression-pipeline reader parse the SAME ::-delimited files to the
    SAME rows — including permissive nulls for malformed cells — and the
    source splits one partition per file."""
    from pyspark.sql import types as T

    from bigdatamining_graduate_spark.sources import readers
    from bigdatamining_graduate_spark.sources.datasource import register_delimtext

    (tmp_path / "a.dat").write_text("1::10::4.5::x\n2::20::bad::y\n")
    (tmp_path / "b.dat").write_text("3::30::2.0::z\n")
    sch = T.StructType(
        [
            T.StructField("uid", T.LongType()),
            T.StructField("mid", T.LongType()),
            T.StructField("rating", T.DoubleType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    glob_path = str(tmp_path / "*.dat")
    register_delimtext(spark)
    via_ds = spark.read.format("delimtext").schema(sch).option(
        "delimiter", "::"
    ).load(glob_path)
    via_expr = readers.read_multichar_delimited(spark, glob_path, sch)
    rows_ds = sorted(map(tuple, via_ds.collect()))
    rows_expr = sorted(map(tuple, via_expr.collect()))
    assert rows_ds == rows_expr
    assert rows_ds[1] == (2, 20, None, "y")  # permissive malformed cell
    assert via_ds.rdd.getNumPartitions() == 2  # one per file


def test_jsonl_corrupt_record_capture(spark, tmp_path):
    """Malformed-input policy, pinned: with the schema's
    ``_corrupt_record`` column PERMISSIVE mode keeps bad lines (raw text
    captured, data fields null); without it they null out silently; and
    DROPMALFORMED removes them. The three dials every large-scale
    ingestion has to choose between — the engine defaults to PERMISSIVE
    with explicit capture for auditability."""
    from pyspark.sql import types as T

    p = tmp_path / "in.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{broken\n{"a": 3, "b": "z"}\n')
    base = [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    with_cap = T.StructType(base + [T.StructField("_corrupt_record", T.StringType())])
    cap = spark.read.schema(with_cap).json(str(p)).collect()
    bad = [r for r in cap if r["_corrupt_record"] is not None]
    assert len(cap) == 3 and len(bad) == 1
    assert bad[0]["a"] is None and bad[0]["_corrupt_record"].startswith("{broken")
    dropped = (
        spark.read.schema(T.StructType(base))
        .option("mode", "DROPMALFORMED")
        .json(str(p))
        .collect()
    )
    assert sorted(r["a"] for r in dropped) == [1, 3]


def test_schema_evolution_is_read_side_only(spark, tmp_path):
    """q277: the v1 files physically LACK the evolved column (no
    rewrite ever happened), a v1-file-only read has no such column,
    and the mergeSchema read unifies both generations losslessly."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.plans.queries import (
        schema_evolved_quality_rollup,
    )
    from bigdatamining_graduate_spark.sources.catalog import load_table
    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out = schema_evolved_quality_rollup(spark, docs, stage_dir=str(tmp_path))
    rows = {r.quality: (r.n_docs, r.sum_tokens) for r in out.collect()}
    assert set(rows) == {"legacy", "good", "low"}, rows
    store = os.path.join(str(tmp_path), "stats_store")
    files = glob.glob(os.path.join(store, "*.parquet"))
    legacy = [f for f in files if "quality" not in spark.read.parquet(f).columns]
    evolved = [f for f in files if "quality" in spark.read.parquet(f).columns]
    assert legacy and evolved  # both generations physically coexist

    # lossless unification: merged read covers every doc exactly once
    merged = spark.read.option("mergeSchema", "true").parquet(store)
    assert merged.count() == docs.count()
    assert merged.filter(F.col("quality").isNull()).count() == rows["legacy"][0]


def test_manifest_prunes_files_and_stays_lossless(spark, tmp_path):
    """q278: the manifest read opens strictly fewer files than the
    store holds (skipping is real on the range-clustered layout), the
    incremental append stats only the new files, and the pruned result
    equals the unpruned filtered read."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bigdatamining_graduate_spark.plans.queries import (
        _Q278_HI,
        _Q278_LO,
        manifest_pruned_rollup,
    )
    from bigdatamining_graduate_spark.sources.catalog import load_table
    from bigdatamining_graduate_spark.sources.manifest import (
        collect_manifest,
        prune_files,
    )
    from .conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    out = manifest_pruned_rollup(spark, ev, stage_dir=str(tmp_path))
    got = {r.event_type: (r.n, round(r.sum_value, 2)) for r in out.collect()}
    store = os.path.join(str(tmp_path), "events_store")
    n_files = len(glob.glob(os.path.join(store, "*.parquet")))
    assert n_files == 10  # 8 base + 2 appended
    man = collect_manifest(spark, store, ["value"])
    assert man.count() == n_files
    survivors = prune_files(man, {"value": (_Q278_LO, _Q278_HI)})
    assert 0 < len(survivors) < n_files  # skipping actually happened
    expected = {
        r.event_type: (r.n, round(r.sum_value, 2))
        for r in ev.filter(F.col("value").between(_Q278_LO, _Q278_HI))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(20,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got == expected


def test_catalog_reuses_inferred_schema(spark, tmp_path):
    """``load_table`` infers a fixture's schema once per session and file
    version: a second load launches no Spark job and returns the same
    schema; rewriting the file makes the next load infer again."""
    import os
    import shutil

    from bigdatamining_graduate_spark.sources.catalog import (
        load_table,
        stored_schema,
        table_path,
    )

    sf = str(tmp_path)
    path = table_path(sf, "region")
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey int, r_name string").write.parquet(path)
    first = load_table(spark, sf, "region").schema
    sc = spark.sparkContext
    sc.setJobGroup("catalog-second-load", "second load")
    try:
        second = load_table(spark, sf, "region").schema
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("catalog-second-load") == []
    assert second == first == spark.read.parquet(path).schema

    shutil.rmtree(path)
    spark.createDataFrame(
        [(0, "AFRICA", "x")], "r_regionkey int, r_name string, r_comment string"
    ).write.parquet(path)
    assert os.path.isdir(path)
    assert stored_schema(spark, path).fieldNames() == ["r_regionkey", "r_name", "r_comment"]
    assert load_table(spark, sf, "region").columns == ["r_regionkey", "r_name", "r_comment"]
