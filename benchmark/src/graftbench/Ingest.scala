package graftbench

import java.io.File

import graft.Tables
import graft.llm.{BenchAccess, IndexStore, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `ingest`: the standing-index lifecycle. Set-up builds the standing
  * BM25 and IVF-PQ artifacts from the fixture `documents` and
  * `embeddings` (TextOps.saveBm25Index, Similarity.saveIvfPqIndex). Each
  * op is one batch: seed-generated documents with fresh ids, their text
  * drawn from the fixture vocabulary, appended through
  * TextOps.appendBm25Index; as many vectors at the fixture dimension,
  * encoded against the stored model and appended through
  * IndexStore.append; then a cold probe of each artifact with a fixed
  * seeded query set; then a compaction of both artifacts. Compacting
  * after every batch keeps one run to one measured batch (see README.md,
  * Budget); the probes see the batch's segments before it. */
final class Ingest(spark: SparkSession, seed: Long, data: String, dir: File) extends Workload {
  import Ingest._

  private def bm25 = new File(dir, "bm25").getAbsolutePath
  private def ivf = new File(dir, "ivfpq").getAbsolutePath

  // fixture facts, read once after set-up
  private var vocab: Array[String] = _
  private var fixtureVecs: Array[Array[Double]] = _
  private var nextDoc = 0L
  private var nextVec = 0L
  private var standingDocs: Array[Long] = _
  private var standingVecs = 0L
  private var model: (Array[Array[Double]], Array[Array[Array[Double]]], Array[Int]) = _
  private var qDocs: DataFrame = _
  private var qVecs: DataFrame = _

  // what the run has appended
  private val appendedDocs = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val appendedVecs = scala.collection.mutable.ArrayBuffer.empty[Row]

  // per op: (append seconds, probe seconds), manifest segments the probes
  // saw, bytes its appends wrote
  private val parts = scala.collection.mutable.Map.empty[Long, (Double, Double)]
  private val segments = scala.collection.mutable.Map.empty[Long, Int]
  private val written = scala.collection.mutable.Map.empty[Long, Long]

  def setup(): Unit = {
    deleteTree(dir)
    // a fresh session per set-up: the standing builds memoize per session
    val fresh = spark.newSession()
    TextOps.saveBm25Index(fresh, data, bm25)
    Similarity.saveIvfPqIndex(fresh, data, ivf)
  }

  def cycleLength: Int = 1

  override def warm(ctx: Ctx): Unit = {
    val docs = Tables.t(spark, data, "documents").select("doc_id", "text").collect()
    vocab = docs.flatMap(_.getString(1).split(" ")).filter(_.nonEmpty).distinct.sorted
    nextDoc = docs.map(_.getLong(0)).max + 1
    val emb = Tables.t(spark, data, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
    fixtureVecs = emb.map(_.getSeq[Double](1).toArray)
    nextVec = emb.map(_.getLong(0)).max + 1
    standingDocs = TextOps.loadBm25Postings(spark, bm25).select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted
    standingVecs = BenchAccess.manifestRowTotal(spark, ivf)
    model = (IndexStore.readModelMatrix(spark, ivf, "centroids"),
      IndexStore.readModelCube(spark, ivf, "codebooks"),
      IndexStore.decodeInts(IndexStore.readMeta(spark, ivf)("bounds")))
    val rnd = new scala.util.Random(seed)
    val qd = rnd.shuffle(docs.toSeq).take(Queries)
    qDocs = spark.createDataFrame(java.util.Arrays.asList(qd: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))).cache()
    val qv = rnd.shuffle(emb.toSeq).take(Queries)
    qVecs = spark.createDataFrame(java.util.Arrays.asList(qv: _*), VecSchema("vec_id", "embedding")).cache()
    // one untimed batch compiles the append, probe and compaction plans
    op(-1L, new Ctx(new Tracer(false), null))
  }

  def op(i: Long, ctx: Ctx): Op = {
    val tr = ctx.tr
    val b = appendedDocs.size / BatchDocs // batch number, warm-up included
    val rnd = new scala.util.Random(seed * 1000003L + b)
    val docIds = (0 until BatchDocs).map(j => nextDoc + b.toLong * BatchDocs + j)
    val docRows = docIds.map { id =>
      Row(id, Seq.fill(20 + rnd.nextInt(41))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val docs = spark.createDataFrame(java.util.Arrays.asList(docRows: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val vecRows = (0 until BatchDocs).map { j =>
      val base = fixtureVecs(rnd.nextInt(fixtureVecs.length))
      Row(nextVec + b.toLong * BatchDocs + j, base.map(x => x + 0.05 * rnd.nextGaussian()).toSeq)
    }
    val vecs = spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), VecSchema("vid", "cv"))
    val corpus = spark.createDataFrame(java.util.Arrays.asList((appendedVecs ++ vecRows).toSeq: _*),
      VecSchema("vid", "cv")).unionByName(Tables.t(spark, data, "embeddings")
      .select(col("vec_id").as("vid"), col("embedding").cast("array<double>").as("cv")))
    val startMs = System.currentTimeMillis()
    val segs = if (tr.on) BenchAccess.bm25Segments(spark, bm25) + BenchAccess.manifestSegments(spark, ivf) else 0
    var appendEndMs = 0L
    val ((added, appendS, probeS, bh, vh), dt, c) = ctx.timed {
      val t0 = System.nanoTime()
      val added = tr("llm.bm25.append") { TextOps.appendBm25Index(spark, bm25, docs) }
      tr("llm.ivfpq.append") {
        IndexStore.append(BenchAccess.ivfPqEncode(vecs, model._1, model._2, model._3), ivf)
      }
      val appendS = (System.nanoTime() - t0) / 1e9
      appendEndMs = System.currentTimeMillis()
      val t1 = System.nanoTime()
      val bh = tr("llm.bm25.cold_probe") { TextOps.bm25ColdProbe(spark, bm25, qDocs, K).collect() }
      val vh = tr("llm.ivfpq.cold_probe") {
        Similarity.ivfPqColdProbe(spark, ivf, corpus, qVecs, K).collect()
      }
      val probeS = (System.nanoTime() - t1) / 1e9
      tr("llm.compact") {
        TextOps.compactBm25Postings(spark, bm25)
        IndexStore.compact(spark, ivf)
      }
      (added, appendS, probeS, bh, vh)
    }
    Check(added, s"batch $b: appendBm25Index admitted nothing")
    appendedDocs ++= docIds
    appendedVecs ++= vecRows
    Seq("BM25" -> bh, "IVF-PQ" -> vh).foreach { case (what, hits) =>
      val perQuery = hits.groupBy(_.getLong(0)).map(_._2.length)
      Check(perQuery.size == Queries && perQuery.forall(_ == K),
        s"batch $b: $what probe returned ${hits.length} hits over ${perQuery.size} queries, " +
          s"want $K for each of $Queries")
    }
    parts(i) = (appendS, probeS)
    if (tr.on) {
      segments(i) = segs + 2 // this batch's two segments
      written(i) = bytesWritten(startMs, appendEndMs)
    }
    Op(i, dt, BatchDocs, "batch", c)
  }

  /** Bytes of the artifacts' files last written in [fromMs, toMs): the
    * appends' pool segments, which compaction keeps for one more
    * generation. */
  private def bytesWritten(fromMs: Long, toMs: Long): Long =
    Seq(bm25, ivf).flatMap(p => files(new File(p)))
      .filter(f => f.lastModified >= fromMs && f.lastModified < toMs).map(_.length).sum

  def finalChecks(): Unit = {
    val live = TextOps.loadBm25Postings(spark, bm25).select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val want = (standingDocs ++ appendedDocs).sorted
    Check(live.sameElements(want),
      s"BM25 artifact holds ${live.length} docs, want standing ${standingDocs.length} + " +
        s"appended ${appendedDocs.size}")
    IndexStore.verifyManifest(spark, ivf)
    IndexStore.verifyManifest(spark, s"$bm25/state")
    val total = BenchAccess.manifestRowTotal(spark, ivf)
    Check(total == standingVecs + appendedVecs.size,
      s"IVF-PQ manifest counts $total rows, want standing $standingVecs + appended ${appendedVecs.size}")
  }

  def details(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val app = ops.map(o => parts(o.id)._1)
    val prb = ops.map(o => parts(o.id)._2)
    Seq(
      ("append_latency_p50_s", Stats.median(app), "s"),
      ("append_latency_tail_s", Stats.tail(app)._1, "s"),
      ("probe_latency_p50_s", Stats.median(prb), "s"),
      ("probe_latency_tail_s", Stats.tail(prb)._1, "s"))
  }

  def layers(tr: Tracer, ops: Seq[Op]): Seq[(String, Double)] = {
    def med(name: String) = Stats.median(ops.map(o => tr.opSeconds(o.id, name)))
    val bytes = Seq(bm25, ivf).flatMap(p => files(new File(p))).map(_.length).sum
    Seq(
      "llm.bm25.append_s" -> med("llm.bm25.append"),
      "llm.ivfpq.append_s" -> med("llm.ivfpq.append"),
      "llm.bytes_written_per_doc" -> ops.map(o => written(o.id)).sum.toDouble / ops.map(_.work).sum,
      "llm.compact_s" -> med("llm.compact"),
      "llm.bm25.cold_probe_s" -> med("llm.bm25.cold_probe"),
      "llm.ivfpq.cold_probe_s" -> med("llm.ivfpq.cold_probe"),
      "llm.segments" -> ops.map(o => segments(o.id).toDouble).sum / ops.size,
      "llm.space_bytes_per_live_doc" -> bytes.toDouble / (standingDocs.length + appendedDocs.size))
  }
}

object Ingest {
  val BatchDocs = 100
  val Queries = 16
  val K = 10

  def VecSchema(id: String, v: String): StructType =
    StructType(Seq(StructField(id, LongType), StructField(v, ArrayType(DoubleType))))

  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
