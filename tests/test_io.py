"""CSV ingest conformance: a regenerated slice of the reference's
csv-hazard corpus (FIXTURES.md §F8, reference test/data/ directories),
driven through readtable like reference test/io.jl:8-47."""

from __future__ import annotations

import gzip
import os

import pytest
from conftest import SF_DIR_ORACLE

from dataframes_jl_spark.io import getseparator, readtable, writetable
from dataframes_jl_spark.io.parquet import load_df, save


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("csv_hazards")

    (d / "standard.csv").write_text(
        "IntColumn,IntlikeColumn,FloatColumn,BoolColumn,StringColumn\n"
        "1,1.0,0.1,true,\"a\"\n"
        "-2,7.0,-3.1e8,false,\"b b\"\n"
        "3,2.0,-3.1e-8,true,\"c,d\"\n"
    )
    (d / "blanklines.csv").write_text("a,b\n1,2\n\n\n3,4\n")
    (d / "comments.csv").write_text("# leading comment\na,b\n1,2\n# mid comment\n3,4\n")
    (d / "padding.csv").write_text("a, b\n 1 , 2 \n 3 ,4\n")
    (d / "quoting.csv").write_text('a,b\n"x,y",2\n"he said ""hi""",4\n')
    (d / "nastrings.csv").write_text("a,b\n1,NA\nNA,2\n3,\n")
    (d / "seps.tsv").write_text("a\tb\n1\t2\n")
    (d / "seps.wsv").write_text("a b\n1 2\n")
    (d / "noheader.csv").write_text("1,2\n3,4\n")
    (d / "utf8.csv").write_text("name,v\nmüller,1\n北京,2\n", encoding="utf-8")
    with gzip.open(d / "gz.csv.gz", "wt") as f:
        f.write("a,b\n1,2\n3,4\n")
    (d / "windows.csv").write_bytes(b"a,b\r\n1,2\r\n3,4\r\n")
    return str(d)


def test_getseparator():
    assert getseparator("x.csv") == ","
    assert getseparator("x.tsv") == "\t"
    assert getseparator("x.wsv") == " "
    assert getseparator("x.csv.gz") == ","


def test_type_inference_cascade(spark, corpus):
    """Int→Float→Bool→String inference (reference src/io.jl:427-473)."""
    df = readtable(spark, f"{corpus}/standard.csv")
    t = dict(df.dtypes)
    assert t["IntColumn"] == "int"
    assert t["IntlikeColumn"] == "double"
    assert t["FloatColumn"] == "double"
    assert t["BoolColumn"] == "boolean"
    assert t["StringColumn"] == "string"
    assert df.count() == 3


def test_blanklines_and_comments(spark, corpus):
    assert readtable(spark, f"{corpus}/blanklines.csv").count() == 2
    df = readtable(spark, f"{corpus}/comments.csv", allowcomments=True)
    assert df.count() == 2
    assert df.columns == ["a", "b"]


def test_padding_and_quoting(spark, corpus):
    df = readtable(spark, f"{corpus}/padding.csv", ignorepadding=True)
    assert [r.a for r in df.collect()] == [1, 3]
    q = readtable(spark, f"{corpus}/quoting.csv", allowescapes=False)
    vals = [r.a for r in q.collect()]
    assert "x,y" in vals


def test_multiple_nastrings(spark, corpus):
    df = readtable(spark, f"{corpus}/nastrings.csv", nastrings=["", "NA"])
    rows = df.collect()
    assert rows[0].b is None and rows[1].a is None and rows[2].b is None


def test_separators_by_extension(spark, corpus):
    assert readtable(spark, f"{corpus}/seps.tsv").collect()[0].a == 1
    assert readtable(spark, f"{corpus}/seps.wsv").collect()[0].a == 1


def test_noheader_gennames(spark, corpus):
    df = readtable(spark, f"{corpus}/noheader.csv", header=False)
    assert df.columns == ["x1", "x2"]
    named = readtable(
        spark, f"{corpus}/noheader.csv", header=False, colnames=["p", "q"]
    )
    assert named.columns == ["p", "q"]


def test_utf8_and_gzip_and_crlf(spark, corpus):
    utf = readtable(spark, f"{corpus}/utf8.csv")
    assert {r.name for r in utf.collect()} == {"müller", "北京"}
    gz = readtable(spark, f"{corpus}/gz.csv.gz")
    assert gz.count() == 2
    win = readtable(spark, f"{corpus}/windows.csv")
    assert win.count() == 2 and win.columns == ["a", "b"]


def test_nrows_limit(spark, corpus):
    assert readtable(spark, f"{corpus}/blanklines.csv", nrows=1).count() == 1


def test_decimal_mark(spark, tmp_path):
    p = tmp_path / "locale.csv"
    p.write_text("a;b\n1,5;x\n2,25;y\n")
    df = readtable(spark, str(p), separator=";", decimal=",")
    assert [r.a for r in df.collect()] == [1.5, 2.25]


def test_write_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    out = str(tmp_path / "out_csv")
    writetable(df, out, single_file=True)
    back = readtable(spark, out)
    assert {(r.a, r.b) for r in back.collect()} == {(1, "x"), (2, "y")}

    pq = str(tmp_path / "out_parquet")
    save(df, pq)
    assert load_df(spark, pq).count() == 2
    part = str(tmp_path / "out_part")
    save(df, part, partition_by=["b"])
    assert os.path.isdir(f"{part}/b=x")


def test_bucketed_write_enables_shuffle_free_join(spark, tables, tmp_path):
    """save(bucket_by=...) co-locates both sides on the join key: the
    subsequent equi-join plans with NO Exchange on either side — the
    shuffle-free-join lever for repeated 100 TB joins."""
    import contextlib
    import io as _io

    from dataframes_jl_spark.io.parquet import save

    orders = tables["orders"].select("o_orderkey", "o_totalprice")
    li = tables["lineitem"].select("l_orderkey", "l_quantity").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    save(orders, str(tmp_path / "o"), bucket_by=(4, ["o_orderkey"]),
         table_name="t_bucket_orders")
    save(li, str(tmp_path / "l"), bucket_by=(4, ["o_orderkey"]),
         table_name="t_bucket_lineitem")
    try:
        a = spark.table("t_bucket_orders")
        b = spark.table("t_bucket_lineitem")
        # hint past the small-table broadcast so the bucketed SMJ path shows
        j = a.hint("merge").join(b, on="o_orderkey")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan
        # no shuffle on either side: bucketing provides the partitioning
        assert "Exchange" not in plan
        # and results are right
        assert j.count() == tables["lineitem"].count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_orders")
        spark.sql("DROP TABLE IF EXISTS t_bucket_lineitem")


def test_readtable_declared_schema(spark, tmp_path):
    from dataframes_jl_spark.io.readtable import readtable

    p = tmp_path / "declared.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = readtable(spark, str(p), schema="a bigint, b string")
    assert dict(df.dtypes) == {"a": "bigint", "b": "string"}
    assert df.count() == 2


def test_skipstart_drops_preamble(spark, tmp_path):
    """readtable(skipstart=N) (reference ParseOptions src/io.jl:11-31):
    junk preamble lines are dropped before header detection."""
    p = tmp_path / "pre.csv"
    p.write_text("junk line 1\njunk line 2\na,b\n1,x\n2,y\n")
    df = readtable(spark, str(p), skipstart=2)
    assert df.columns == ["a", "b"]
    rows = sorted((r["a"], r["b"]) for r in df.collect())
    assert rows == [(1, "x"), (2, "y")]


def test_custom_truestrings_yield_boolean(spark, tmp_path):
    """Custom true/false token sets produce a real boolean column when
    every non-null value is a token; mixed columns stay strings."""
    p = tmp_path / "bool.csv"
    p.write_text("flag,mixed\nyes,yes\nno,other\nyes,no\n")
    df = readtable(
        spark, str(p), truestrings=["yes"], falsestrings=["no"]
    )
    types = dict(df.dtypes)
    assert types["flag"] == "boolean"
    assert types["mixed"] == "string"
    assert [r["flag"] for r in df.orderBy("mixed").collect()] == [
        True, False, True,
    ]


def test_os9_carriage_return_only(spark, tmp_path):
    """Classic-Mac '\r'-only record ends (reference
    test/data/newlines/os9.csv) parse via linesep='\r'."""
    p = tmp_path / "os9.csv"
    p.write_bytes(b"a,b\r1,2\r3,4\r")
    df = readtable(spark, str(p), linesep="\r")
    assert df.columns == ["a", "b"]
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, 2), (3, 4)]


def test_embedded_newlines_in_quoted_fields(spark, tmp_path):
    """Record separators inside quoted fields (reference
    test/data/newlines/embedded_{osx,windows}.csv) need
    allowquotednewlines=True (multiLine scan)."""
    osx = tmp_path / "embedded_osx.csv"
    osx.write_text('a,b\n"line one\nline two",1\n"plain",2\n')
    df = readtable(spark, str(osx), allowquotednewlines=True)
    rows = {r.b: r.a for r in df.collect()}
    assert rows == {1: "line one\nline two", 2: "plain"}

    win = tmp_path / "embedded_windows.csv"
    win.write_bytes(b'a,b\r\n"line one\r\nline two",1\r\n"plain",2\r\n')
    dfw = readtable(spark, str(win), allowquotednewlines=True)
    rowsw = {r.b: r.a for r in dfw.collect()}
    assert rowsw[2] == "plain" and "line one" in rowsw[1]


def test_corrupt_utf8_does_not_crash(spark, tmp_path):
    """Invalid UTF-8 bytes must not abort the read (reference
    test/data/utf8/corrupt_utf8.csv via PERMISSIVE mode)."""
    p = tmp_path / "corrupt.csv"
    p.write_bytes(b"name,v\nok,1\nbad\xff\xfe,2\n")
    df = readtable(spark, str(p))
    assert df.count() == 2
    assert {r.v for r in df.collect()} == {1, 2}


def test_quoted_whitespace_space_separator(spark, tmp_path):
    """Space-separated file with quoted fields containing spaces
    (reference test/data/quoting/quotedwhitespace.txt)."""
    p = tmp_path / "qws.txt"
    p.write_text('a b\n"x y" 1\n"z w" 2\n')
    df = readtable(spark, str(p), separator=" ")
    assert sorted(r.a for r in df.collect()) == ["x y", "z w"]


def test_empty_quoted_fields(spark, tmp_path):
    """Empty quoted strings (reference test/data/quoting/empty.csv):
    '' parses as null under the default nastrings ('' is first)."""
    p = tmp_path / "empty.csv"
    p.write_text('a,b\n"",1\n"x",2\n')
    df = readtable(spark, str(p))
    rows = {r.b: r.a for r in df.collect()}
    assert rows[2] == "x" and rows[1] is None


RDA_DIR = "/root/reference/test/data/RDA"


@pytest.mark.skipif(not os.path.isdir(RDA_DIR), reason="reference RDA fixtures absent")
def test_read_rda_reference_fixtures(spark):
    """Pure-Python RData decode vs the reference's own fixtures
    (reference test/RDA.jl: minimal/types/NAs, R generator in comments)."""
    from dataframes_jl_spark.io import read_rda

    dfs = read_rda(spark, f"{RDA_DIR}/minimal.rda")
    assert list(dfs) == ["df"]
    assert [r.num for r in dfs["df"].collect()] == [1.1, 2.2]

    t = read_rda(spark, f"{RDA_DIR}/types.rda")["df"]
    assert t.columns == ["num", "int", "logi", "chr", "factor"]
    assert dict(t.dtypes) == {
        "num": "double",
        "int": "int",
        "logi": "boolean",
        "chr": "string",
        "factor": "string",
    }
    rows = t.orderBy("int").collect()
    assert [tuple(r) for r in rows] == [
        (1.1, 1, True, "ab", "ab"),
        (2.2, 2, False, "c", "c"),
    ]

    na = read_rda(spark, f"{RDA_DIR}/NAs.rda")["df"]
    assert na.columns == ["num", "int", "logi", "factor"]
    got = sorted(([tuple(r) for r in na.collect()]), key=lambda x: (x[0] is None, x))
    assert got[0] == (1.1, 1, True, "ab")
    assert got[1] == (None, None, None, None)


def test_read_rda_rejects_garbage(spark, tmp_path):
    from dataframes_jl_spark.io.rda import parse_rda

    p = tmp_path / "x.rda"
    p.write_bytes(b"NOPE!")
    with pytest.raises(ValueError):
        parse_rda(str(p))


def test_gzparallel_parses_on_many_partitions(spark, tmp_path):
    """gzparallel: the non-splittable gzip stream is decompressed once
    but PARSED across >1 partition (from_csv after a repartition), with
    values identical to the single-partition read."""
    import gzip as _gzip

    p = tmp_path / "big.csv.gz"
    with _gzip.open(p, "wt") as f:
        f.write("a,b,c\n")
        for i in range(5000):
            f.write(f"{i},x{i},{i * 0.5}\n")
    plain = readtable(spark, str(p))
    par = readtable(spark, str(p), gzparallel=8)
    assert par.rdd.getNumPartitions() > 1
    assert par.columns == plain.columns == ["a", "b", "c"]
    assert [t for _, t in par.dtypes] == [t for _, t in plain.dtypes]
    assert par.count() == 5000
    assert (
        par.exceptAll(plain).count() == 0 and plain.exceptAll(par).count() == 0
    )


def test_gzparallel_skipstart_and_comments(spark, tmp_path):
    import gzip as _gzip

    p = tmp_path / "pre.csv.gz"
    with _gzip.open(p, "wt") as f:
        f.write("junk preamble\nmore junk\na,b\n1,2\n# note\n3,4\n\n5,6\n")
    df = readtable(
        spark, str(p), skipstart=2, allowcomments=True, gzparallel=4
    )
    assert df.columns == ["a", "b"]
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, 2), (3, 4), (5, 6)]


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order layout: after writing along the Morton curve of
    (user_id, value), a selective predicate on EITHER column alone must
    prune files via footer min/max — the property a single-column sort
    only gives its leading column."""
    import pyspark.sql.functions as F

    from dataframes_jl_spark.io.layout import (
        file_prune_stats,
        zorder_write,
    )
    from dataframes_jl_spark.session import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "user_id", "value"
    )
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    zorder_write(ev, zpath, ["user_id", "value"], bits=12, num_files=16)
    # naive comparison layout: range-sorted by user_id only
    (
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(spath)
    )
    lo_u, hi_u = 100, 120  # narrow user slice
    st = ev.agg(F.min("value"), F.max("value")).collect()[0]
    span = st[1] - st[0]
    lo_v, hi_v = st[0] + 0.45 * span, st[0] + 0.55 * span  # narrow value slice
    z_user = file_prune_stats(zpath, "user_id", lo_u, hi_u)
    z_val = file_prune_stats(zpath, "value", lo_v, hi_v)
    s_user = file_prune_stats(spath, "user_id", lo_u, hi_u)
    s_val = file_prune_stats(spath, "value", lo_v, hi_v)
    # both dimensions prune under z-order...
    assert z_user["candidates"] < z_user["files"]
    assert z_val["candidates"] < z_val["files"]
    # ...but the single-column layout cannot prune its non-leading dim
    assert s_val["candidates"] == s_val["files"]
    assert s_user["candidates"] <= z_user["candidates"]  # leading col: sort wins
    # layout is value-preserving
    back = spark.read.parquet(zpath)
    assert back.count() == ev.count()
    q = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    a = ev.agg(F.sum("user_id"), F.sum(q)).collect()[0]
    b = back.agg(F.sum("user_id"), F.sum(q)).collect()[0]
    assert a == b


def test_zorder_rejects_string_accepts_temporal(spark):
    """Round-5 verdict #6: a string column must raise LOUDLY (the old
    blanket double-cast NULL-bucketed it silently in permissive mode
    and crashed under ANSI); date/timestamp columns quantize through
    their epoch view instead of the illegal direct cast."""
    import pytest
    from pyspark.sql import functions as F

    from dataframes_jl_spark.io.layout import zorder_code
    from dataframes_jl_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    with pytest.raises(ValueError, match="no range quantization"):
        zorder_code(docs, ["lang", "n_chars"])

    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    coded = zorder_code(
        ev.withColumn("d", F.to_date("ts")), ["ts", "d", "user_id"], bits=12
    )
    row = coded.agg(
        F.count(F.when(F.col("__zorder__").isNull(), 1)).alias("nulls"),
        F.countDistinct("__zorder__").alias("distinct"),
    ).collect()[0]
    assert row.nulls == 0 and row.distinct > 1


# --- the Parquet read path (io.parquet.load_df) ------------------------------


def _jobs_run_by(spark, fn):
    """(number of Spark jobs ``fn()`` launched, its result), counted by
    the status tracker under a fresh job group. A sentinel job in a
    second group flushes the listener bus first: job events arrive in
    order, so once the sentinel is visible every job ``fn`` started is."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"read-path-{uuid.uuid4().hex}"
    sentinel = f"{group}-sentinel"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 60
        while not sc.statusTracker().getJobIdsForGroup(sentinel):
            assert time.monotonic() < deadline, "sentinel job never reported"
            time.sleep(0.05)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_second_load_runs_no_spark_job(spark, tmp_path):
    """Schema inference runs once per file: the first load of a file
    launches the footer job, every later load of the unchanged file
    launches none (load_table goes through the same path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataframes_jl_spark.session import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    first, _ = _jobs_run_by(spark, lambda: load_df(spark, path))
    assert first >= 1  # the counter sees the inference job
    again, df = _jobs_run_by(spark, lambda: load_df(spark, path))
    assert again == 0 and sorted(r.a for r in df.collect()) == [1, 2, 3]

    def orders():
        return load_table(spark, SF_DIR_ORACLE, "orders")

    orders()
    n, df = _jobs_run_by(spark, orders)
    assert n == 0 and "o_orderkey" in df.columns


def test_cached_schema_reads_match_plain_reads(spark):
    """All ten tables: the schema-cached read returns the schema and rows
    of a plain spark.read.parquet (events after load_table's ts
    normalization), and each load is a fresh relation, so a self-join
    of two loads resolves."""
    from pyspark.sql import functions as F

    from dataframes_jl_spark.session import TPCH_TABLES, load_table

    for name in TPCH_TABLES:
        load_table(spark, SF_DIR_ORACLE, name)
        got = load_table(spark, SF_DIR_ORACLE, name)
        ref = spark.read.parquet(f"{SF_DIR_ORACLE}/{name}.parquet")
        if name == "events":
            assert dict(ref.dtypes)["ts"] == "timestamp_ntz"
            ref = ref.withColumn("ts", F.col("ts").cast("timestamp"))
        assert got.schema == ref.schema, name
        assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty(), name

    a = load_table(spark, SF_DIR_ORACLE, "nation")
    b = load_table(spark, SF_DIR_ORACLE, "nation")
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).count()
    per_region = [r[1] for r in a.groupBy("n_regionkey").count().collect()]
    assert pairs == sum(c * c for c in per_region)


def test_rewritten_file_is_reinferred(spark, tmp_path):
    """A file rewritten at the same path with another schema changes its
    stamp, so the next load infers again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    load_df(spark, path)
    assert load_df(spark, path).dtypes == [("a", "bigint")]
    pq.write_table(pa.table({"a": ["x", "y", "z"], "b": [0.5, 1.5, 2.5]}), path)
    df = load_df(spark, path)
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert sorted(r.a for r in df.collect()) == ["x", "y", "z"]


def test_inference_conf_flip_reinfers(spark, tmp_path):
    """The session's inference confs are part of the stamp: flipping
    spark.sql.parquet.binaryAsString re-infers a binary column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        load_df(spark, path)
        assert load_df(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        df = load_df(spark, path)
        assert df.dtypes == [("b", "string")]
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(key, before)
