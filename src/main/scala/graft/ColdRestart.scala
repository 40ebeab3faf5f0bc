package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{AnnFamily, Dedup, IndexStore, Similarity, TextOps}

/** Cross-JVM restart certification (the strongest form of "standing
  * means survives a restart"): [[ColdSave]] builds every standing
  * artifact in one JVM, persists them through [[IndexStore]], and dumps
  * the warm reference outputs; [[ColdProbe]] runs in a SECOND JVM —
  * `scripts/cold_restart.sh` invokes them as two separate forked
  * `sbt runMain` processes — where no build function is ever called and
  * every per-application cache is empty by construction, loads the
  * artifacts, probes them, and requires row-set identity against the
  * first JVM's dumps. The in-session cold rows (`x_*_cold_probe`)
  * certify the same contracts per-round under the DuckDB gate; this
  * pair removes the shared-JVM caveat entirely.
  */
object ColdRestart {
  private[graft] def queriesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 25 === 0)

  private[graft] def batchOf(docs: DataFrame): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(5L)) === 0)

  private[graft] def bm25Queries(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 50 === 0 && col("doc_id") < 5000)

  /** Distinct rows whose MULTIPLICITY differs between the frames — 0
    * means multiset identity, not just set identity: a cold result that
    * dropped one duplicate row and duplicated another would join clean
    * on both sides of a plain full-outer join but fails the per-row
    * count equality here (ADVICE r14). */
  private[graft] def mismatches(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq
    val ga = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_ca"))
    val gb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("_cb"))
    ga.join(gb, cols, "full")
      .where(col("_ca").isNull || col("_cb").isNull || col("_ca") =!= col("_cb"))
      .count()
  }
}

/** JVM 1: build, persist, dump warm reference outputs. */
object ColdSave {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import ColdRestart._

    AnnFamily.all.foreach(fam => Similarity.saveIndex(spark, sfDir, fam, s"$outDir/${fam.kind}"))
    TextOps.saveBm25Index(spark, sfDir, s"$outDir/bm25")
    Dedup.saveBandIndex(spark, sfDir, s"$outDir/bands")
    TextOps.saveQualWeights(spark, sfDir, s"$outDir/qualw")
    TextOps.saveBpeVocab(spark, sfDir, 6, s"$outDir/bpe6")

    val emb = Tables.t(spark, sfDir, "embeddings")
    val docs = Tables.t(spark, sfDir, "documents")
    def dump(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/expected/$name")
    dump("ivf", Similarity.indexProbe(spark, sfDir, AnnFamily.Ivf, queriesOf(emb), k = 5))
    dump("lsh", Similarity.indexProbe(spark, sfDir, AnnFamily.Lsh, queriesOf(emb), k = 5))
    // PQ: the ARTIFACT is the contract (probe output rides partition-
    // local shortlist ties) — dump the codes table itself; same
    // convention for the composed IVF-PQ table
    dump("pq", Similarity.indexFor(spark, sfDir, AnnFamily.Pq))
    dump("ivfpq", Similarity.indexFor(spark, sfDir, AnnFamily.IvfPq))
    dump("bm25", TextOps.bm25IndexProbe(spark, sfDir, bm25Queries(docs), k = 5))
    dump("bands", Dedup.incrementalCandidates(batchOf(docs),
      Dedup.corpusBandIndexFor(spark, sfDir)))
    dump("qualw", SparkEntry.queries("x_qual_apply")(spark, sfDir))
    dump("bpe6", TextOps.bpeEncodeWith(docs, TextOps.bpeVocabFor(spark, sfDir, 6)))

    println("COLD_SAVE_OK 8 artifacts")
    spark.stop()
    System.exit(0)
  }
}

/** JVM 2: load, probe, compare — NO build function is referenced here;
  * the only inputs are the artifact paths and the fixture tables. */
object ColdProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    import ColdRestart._
    val emb = Tables.t(spark, sfDir, "embeddings")
    val docs = Tables.t(spark, sfDir, "documents")
    def expect(name: String): DataFrame = spark.read.parquet(s"$outDir/expected/$name")

    val results = Seq(
      "ivf" -> mismatches(Similarity.coldProbe(spark, s"$outDir/ivf", AnnFamily.Ivf,
        Similarity.corpusOf(emb), queriesOf(emb), k = 5), expect("ivf")),
      "lsh" -> mismatches(Similarity.coldProbe(spark, s"$outDir/lsh", AnnFamily.Lsh,
        Similarity.corpusOf(emb), queriesOf(emb), k = 5), expect("lsh")),
      "pq" -> mismatches(IndexStore.load(spark, s"$outDir/pq"), expect("pq")),
      "ivfpq" -> mismatches(IndexStore.load(spark, s"$outDir/ivfpq"), expect("ivfpq")),
      "bm25" -> mismatches(
        TextOps.bm25ColdProbe(spark, s"$outDir/bm25", bm25Queries(docs), k = 5),
        expect("bm25")),
      "bands" -> mismatches(
        Dedup.coldCandidates(spark, s"$outDir/bands", batchOf(docs)),
        expect("bands")),
      "qualw" -> mismatches(
        TextOps.qualColdApplyFor(spark, s"$outDir/qualw", sfDir),
        expect("qualw")),
      "bpe6" -> mismatches(
        TextOps.bpeColdEncode(spark, s"$outDir/bpe6", docs),
        expect("bpe6")))

    results.foreach { case (name, bad) =>
      println(f"$name%-6s ${if (bad == 0) "MATCH" else s"$bad MISMATCHED ROWS"}")
    }
    val failed = results.filter(_._2 != 0)
    if (failed.nonEmpty) {
      println(s"COLD_RESTART_FAILED: ${failed.map(_._1).mkString(", ")}")
      spark.stop()
      System.exit(1)
    }
    println(s"COLD_RESTART_OK ${results.size}/8 families row-set identical across JVMs")
    spark.stop()
    System.exit(0)
  }
}
