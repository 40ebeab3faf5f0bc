#!/usr/bin/env python3
"""PySpark smoke for the graft session extension — the Python-binding
parity check (the reference ships py-clickhouse-arrow; our surface is
the same library driven from PySpark).

Proves, from Python only:
  1. the extension jar loads (parser + dialect + rules registered);
  2. CH SQL dialect spellings resolve (toString, arrayJoin tier);
  3. CH text-surface clauses parse via the rescue tier (SETTINGS,
     LIMIT BY, star APPLY) and the always-on tier (numbers(), ASOF);
  4. the DSv2 connector scans a table end-to-end over HTTP/Arrow
     against the in-process stub server (constructed through py4j);
  5. the WRITE path works from Python — connector insert round-trip
     (the reference's Python surface does insert too:
     py-clickhouse-arrow/src/client.rs query/insert/execute) and CH
     CREATE TABLE DDL + INSERT + read-back;
  6. bound parameters flow from Python's spark.sql(args=...) through
     the CH brace-marker rewrite ({k:Int32} -> named marker).

Run:  python3 scripts/pyspark_smoke.py  (after `sbt compile`)
"""
import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSES = os.path.join(REPO, "target", "scala-2.13", "classes")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

if not glob.glob(os.path.join(CLASSES, "graft", "GraftExtensions.class")):
    sys.exit(f"compiled classes not found under {CLASSES} — run `sbt compile` first")

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[4]")
    .appName("graft-pyspark-smoke")
    .config("spark.driver.extraClassPath", CLASSES)
    .config("spark.executor.extraClassPath", CLASSES)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")

failures = []


def check(name, fn):
    try:
        fn()
        print(f"PASS  {name}")
    except Exception as e:  # noqa: BLE001
        failures.append(name)
        print(f"FAIL  {name}: {e}")


# 1+2: dialect spellings resolve through the injected FunctionRegistry
def dialect():
    row = spark.sql("SELECT toString(42) AS s, bitCount(255) AS b").head()
    assert row.s == "42" and row.b == 8, row


# 3a: rescue tier — SETTINGS clause strips and applies
def settings_clause():
    assert spark.sql("SELECT 1 AS x SETTINGS max_threads = 4").head().x == 1


# 3b: rescue tier — LIMIT n BY
def limit_by():
    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30)], "k int, v int"
    ).createOrReplaceTempView("py_lb")
    rows = {
        (r.k, r.v)
        for r in spark.sql(
            "SELECT k, v FROM py_lb ORDER BY v DESC LIMIT 1 BY k"
        ).collect()
    }
    assert rows == {(1, 20), (2, 30)}, rows


# 3c: rescue tier — star APPLY through the resolver marker
def star_apply():
    cols = spark.sql(
        "SELECT * APPLY (toString) FROM py_lb ORDER BY k"
    ).dtypes
    assert cols == [("k", "string"), ("v", "string")], cols


# 3d: always-on tier — numbers() TVF
def numbers_tvf():
    assert spark.sql("SELECT count(*) AS n FROM numbers(7)").head().n == 7


# 3e: always-on tier — ASOF JOIN text (AsofLateralRule plan rescue)
def asof_text():
    spark.createDataFrame([(1, 100), (2, 50)], "k int, ts int").createOrReplaceTempView("py_l")
    spark.createDataFrame(
        [(1, 90, "a"), (1, 150, "b")], "k int, rts int, p string"
    ).createOrReplaceTempView("py_r")
    df = spark.sql(
        "SELECT l.k, r.p FROM py_l l ASOF LEFT JOIN py_r r "
        "ON l.k = r.k AND l.ts >= r.rts ORDER BY l.k"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "max_by" in plan, plan[:500]
    rows = [(r.k, r.p) for r in df.collect()]
    assert rows == [(1, "a"), (2, None)], rows


# 4: DSv2 connector scan over HTTP/Arrow against the in-process stub
def connector_scan():
    nation = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    srv = spark._jvm.graft.connector.StubCHServer()
    try:
        srv.load("nation", nation._jdf)
        out = (
            spark.read.format("graft-ch")
            .option("url", srv.url())
            .option("table", "nation")
            .load()
            .select("n_nationkey", "n_name")
        )
        assert out.count() == nation.count()
    finally:
        srv.stop()


# 5a: connector INSERT from Python (write path), value-checked round trip
def connector_insert():
    supplier = spark.read.parquet(os.path.join(SF_DIR, "supplier.parquet"))
    srv = spark._jvm.graft.connector.StubCHServer()
    try:
        (supplier.write.format("graft-ch")
            .option("url", srv.url()).option("table", "py_ins")
            .mode("append").save())
        back = (spark.read.format("graft-ch")
                .option("url", srv.url()).option("table", "py_ins").load())
        assert back.count() == supplier.count()
        a = {r.s_suppkey for r in back.select("s_suppkey").collect()}
        b = {r.s_suppkey for r in supplier.select("s_suppkey").collect()}
        assert a == b, (sorted(a)[:5], sorted(b)[:5])
    finally:
        srv.stop()


# 5b: CH CREATE TABLE DDL text from Python + INSERT + read-back
def ch_ddl():
    import shutil
    leftover = os.path.join(os.getcwd(), "spark-warehouse", "py_ddl_t")
    if os.path.isdir(leftover):  # a crashed prior run leaks the location
        shutil.rmtree(leftover)
    spark.sql("DROP TABLE IF EXISTS py_ddl_t")
    spark.sql("CREATE TABLE py_ddl_t (id UInt64, name String) ENGINE = Memory")
    try:
        spark.sql("INSERT INTO py_ddl_t VALUES (1, 'a'), (2, 'b')")
        assert spark.sql("SELECT count(*) AS n FROM py_ddl_t").head().n == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS py_ddl_t")


# 6: bound params — PySpark args dict through the CH {name:Type} markers
def bound_params():
    rows = spark.sql(
        "SELECT k, v FROM py_lb WHERE k = {k:Int32} ORDER BY v",
        args={"k": 1},
    ).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 10), (1, 20)], rows


# 12: round-12/13 surface — incremental dedup probe from Python: the
# standing corpus band index + a batch probe through the public Dedup
# API (static forwarders on the Scala object)
def dedup_incremental_probe():
    from pyspark.sql import DataFrame

    jvm = spark._jvm
    ix = jvm.graft.llm.Dedup.corpusBandIndexFor(spark._jsparkSession, SF_DIR)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    batch = docs.filter("doc_id % 5 = 0")
    cand = DataFrame(
        jvm.graft.llm.Dedup.incrementalCandidates(batch._jdf, ix, 32, 16), spark
    )
    assert cand.columns == ["batch_doc", "corpus_doc"], cand.columns
    rows = cand.collect()
    assert all(r.batch_doc % 5 == 0 and r.corpus_doc % 5 != 0 for r in rows), rows[:5]


# 13: round-12/13 surface — quality-filter INFERENCE from Python: score
# an ingest batch against the standing pinned weights via the declared
# query entry (the path a PySpark pipeline would wire up)
def qual_apply():
    from pyspark.sql import DataFrame

    fn = spark._jvm.graft.SparkEntry.queries().apply("x_qual_apply")
    df = DataFrame(fn.apply(spark._jsparkSession, SF_DIR), spark)
    rows = df.collect()
    assert len(rows) > 0 and len(df.columns) >= 2, (len(rows), df.columns)


# 14: round-13 surface — credentialed connector scan from Python (the
# auth headers ride py4j-constructed options end to end)
def connector_auth_scan():
    nation = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    srv = spark._jvm.graft.connector.StubCHServer()
    try:
        srv.load("nation", nation._jdf)
        srv.requireAuth("analyst", "s3cret")
        out = (
            spark.read.format("graft-ch")
            .option("url", srv.url())
            .option("table", "nation")
            .option("user", "analyst")
            .option("password", "s3cret")
            .load()
        )
        assert out.count() == nation.count()
        failed = False
        try:
            (spark.read.format("graft-ch")
                .option("url", srv.url()).option("table", "nation")
                .option("user", "analyst").option("password", "WRONG")
                .load())
        except Exception as e:  # noqa: BLE001
            failed = "AUTHENTICATION_FAILED" in str(e)
        assert failed, "wrong key must raise the typed 516 error"
    finally:
        srv.stop()


# 15: round-13 surface — batch retrieval through the STANDING BM25
# inverted index from Python (build-once/probe-per-batch, the
# production retrieval path; the variant passed explicitly — py4j
# resolves real overloads, not Scala default params)
def bm25_index_probe():
    from pyspark.sql import DataFrame

    jvm = spark._jvm
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    q = docs.filter("doc_id % 50 = 0 AND doc_id < 5000")
    out = DataFrame(
        jvm.graft.llm.TextOps.bm25IndexProbe(
            spark._jsparkSession, SF_DIR, q._jdf, 5, "raw"), spark)
    rows = out.collect()
    assert out.columns == ["query_id", "doc_id", "score", "rank"], out.columns
    assert len(rows) > 0 and all(r.rank <= 5 for r in rows), len(rows)


def ann_family(kind):
    # the standing ANN family with sidecar kind `kind` (graft.llm.AnnFamily)
    fams = spark._jvm.graft.llm.AnnFamily.all()
    return next(fams.apply(i) for i in range(fams.size()) if fams.apply(i).kind() == kind)


# 16: round-13 surface — ANN batch probe through the STANDING LSH
# bucket table from Python
def lsh_index_probe():
    from pyspark.sql import DataFrame

    jvm = spark._jvm
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = emb.filter("vec_id % 25 = 0")
    out = DataFrame(
        jvm.graft.llm.Similarity.indexProbe(
            spark._jsparkSession, SF_DIR, ann_family("lsh"), q._jdf, 5, 0, 0), spark)
    rows = out.collect()
    assert out.columns == ["qid", "vid", "cos"], out.columns
    assert len(rows) > 0, "LSH standing probe returned no neighbors"


# 17: round-14 surface — COLD-START probe from Python: persist the
# standing IVF artifact (parquet + metadata sidecar), then load-and-
# probe it in a fresh session whose per-application caches are empty —
# the restart path a production PySpark ingest loop takes
def cold_index_probe():
    from pyspark.sql import DataFrame

    jvm = spark._jvm
    path = jvm.graft.llm.ArtifactQueries.tempRoot(spark._jsparkSession) + "/pysmoke/ivf"
    jvm.graft.llm.Similarity.saveIndex(spark._jsparkSession, SF_DIR, ann_family("ivf"), path)
    fresh = spark._jsparkSession.newSession()
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    corpus = emb.selectExpr("vec_id AS vid", "CAST(embedding AS array<double>) AS cv")
    q = emb.filter("vec_id % 25 = 0")
    out = DataFrame(
        jvm.graft.llm.Similarity.coldProbe(
            fresh, path, ann_family("ivf"), corpus._jdf, q._jdf, 5, 4, 0), spark)
    rows = out.collect()
    assert out.columns == ["qid", "vid", "cos"], out.columns
    assert len(rows) > 0, "cold IVF probe returned no neighbors"


# 18: round-15 surface — the live streaming FORGET loop driven from
# Python: the op-tagged CDC stream (admits + a mixed admit/forget
# batch) runs the real engine via the declared query entry; its
# in-engine requires gate convergence and the right-to-be-forgotten
# purge, so a PASS here certifies the whole loop from PySpark
def stream_forget():
    from pyspark.sql import DataFrame

    fn = spark._jvm.graft.SparkEntry.queries().apply("x_stream_index_forget")
    df = DataFrame(fn.apply(spark._jsparkSession, SF_DIR), spark)
    row = df.collect()[0]
    assert row.converged and row.purged_ok and row.n_forgotten > 0, row


# 19: round-15 surface — the composed IVF-PQ standing index probed
# from Python through the declared query entry: cell-pruned ADC scan +
# shortlist re-rank, recall-certified in-engine (recall_ok rides the
# annRecallContract require), so a PASS certifies the composed path
def ivfpq_index_probe():
    from pyspark.sql import DataFrame

    fn = spark._jvm.graft.SparkEntry.queries().apply("x_sim_index_probe_ivfpq")
    df = DataFrame(fn.apply(spark._jsparkSession, SF_DIR), spark)
    row = df.collect()[0]
    assert row.recall_ok and row.n_queries > 0, row


# 20: round-16 surface — the FILE-source BM25 ingest loop driven from
# Python: parquet slices land in a watched directory DURING the stream,
# a maxFilesPerTrigger-paced readStream discovers and admits them via
# the probe-then-merge drive; in-engine requires gate >=4 discovered
# batches, live probes, and streamed == direct — a PASS certifies the
# production "new files land, the loop admits them" shape from PySpark
def bm25_file_ingest():
    from pyspark.sql import DataFrame

    fn = spark._jvm.graft.SparkEntry.queries().apply("x_stream_bm25_file_ingest")
    df = DataFrame(fn.apply(spark._jsparkSession, SF_DIR), spark)
    rows = df.collect()
    assert df.columns == ["query_id", "doc_id", "score", "rank"], df.columns
    assert len(rows) > 0, "file-source BM25 ingest probe returned no rows"


# 11: round-10 surface — CH-exact hash kernels + untuple star expansion
def r10_surface():
    row = spark.sql(
        "SELECT CAST(cityHash64('') AS STRING) AS c, untuple(t) "
        "FROM (SELECT named_struct('a', 1, 'b', 'x') AS t)"
    ).head()
    # cityHash64('') = k2 of CityHash 1.0.2 (algebraic pin)
    assert row.c == "11160318154034397263" and row.a == 1 and row.b == "x", row


check("dialect functions", dialect)
check("round-10 hashes + untuple", r10_surface)
check("SETTINGS clause", settings_clause)
check("LIMIT BY", limit_by)
check("star APPLY", star_apply)
check("numbers() TVF", numbers_tvf)
check("ASOF JOIN text", asof_text)
check("connector scan", connector_scan)
check("connector insert", connector_insert)
check("CH DDL round trip", ch_ddl)
check("bound params", bound_params)
check("incremental dedup probe", dedup_incremental_probe)
check("quality-filter apply", qual_apply)
check("connector auth scan", connector_auth_scan)
check("BM25 standing-index probe", bm25_index_probe)
check("LSH standing-index probe", lsh_index_probe)
check("cold-start index probe", cold_index_probe)
check("streaming forget loop", stream_forget)
check("composed IVF-PQ probe", ivfpq_index_probe)
check("file-source BM25 ingest loop", bm25_file_ingest)

spark.stop()
if failures:
    sys.exit(f"{len(failures)} smoke check(s) failed: {', '.join(failures)}")
print("pyspark smoke: all checks green")
