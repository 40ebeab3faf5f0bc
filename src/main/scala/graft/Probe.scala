package graft.llm

import graft.{Sessions, Tables}

import org.apache.spark.sql.functions._

/** Threshold-calibration probe for the accuracy-contract oracles
  * (langid accuracy, ANN recalls, LM separation, pair recalls): prints
  * the measured metrics at a given fixture dir so contract floors can
  * be set (and later re-audited) with explicit margin below them.
  * The floors currently shipped in Similarity/Dedup cite these numbers.
  *
  * Modes (extra args after the fixture dir):
  *  - `scenarios` — sliced-merge calibration (the x_sim_index_update_*
  *    floors);
  *  - `sweep` — the (nprobe, shortlistFactor) recall sweep behind the
  *    density knobs and the deployment-lever quote;
  *  - `dense[=N]` — SYNTHETIC high-density calibration (r17 verdict
  *    weak-#2 close-out): N clustered vectors (default 1 M — past the
  *    retired nlist=512 sample ceiling's knee at N ≈ 0.5 M), auto
  *    knobs, recall vs brute. Proves nlist > 512 actually trains, the
  *    probed fraction stays ~36 %, and the recall floor holds at a
  *    density the fixtures don't reach;
  *  - `jsonOut=<path>` — ALSO write every metric printed this run as a
  *    JSON artifact (r17 verdict next-#7: the sweep that justified the
  *    shipped knobs was print-only; a committed JSON lets the next
  *    floor re-audit diff numbers instead of re-reading stdout).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local("16", "16")
    import spark.implicits._

    // every printed metric also lands here; jsonOut dumps it at exit
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    def put(name: String, v: Double): Unit = {
      metrics(name) = v
      println(s"PROBE $name = $v")
    }

    val docs = Tables.t(spark, d, "documents")
    val emb = Tables.t(spark, d, "embeddings")

    // langid accuracy per true lang + overall
    val pred = TextOps.languageId(docs)
    pred.groupBy("true_lang")
      .agg(count(lit(1)).as("n"),
        avg(when(col("pred_lang") === col("true_lang"), 1.0).otherwise(0.0)).as("acc"))
      .orderBy("true_lang").show(50, false)

    // lm separation: real vs reversed text under a FIXED real-text
    // model (the x_text_lm_score shape — retraining on the reversed
    // text would score it against its own isomorphic trigram counts
    // and always print sep = 0.0)
    val (lmM, lmFloor) = TextOps.lmModel(docs)
    val real = TextOps.lmScoreAgainst(lmM, lmFloor, docs)
      .agg(avg("avg_logp")).first().getDouble(0)
    val gib = TextOps.lmScoreAgainst(lmM, lmFloor,
      docs.withColumn("text", reverse(col("text"))))
      .agg(avg("avg_logp")).first().getDouble(0)
    put("lm_sep", real - gib)

    // ANN recalls vs brute
    val q = emb.filter(col("vec_id") % 25 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(emb, q, 5))
    def rec(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      put(s"recall $name", (brute intersect pairs(df)).size.toDouble / brute.size)
    rec("lsh", Similarity.lshTopK(emb, q, k = 5, tables = 8, bits = 6))
    rec("ivf", Similarity.rebuildTopK(AnnFamily.Ivf, emb, q, k = 5))
    // shipped defaults (m=8, ksub=256) so a floor re-audit prints the
    // numbers the contracts actually run under
    rec("pq", Similarity.rebuildTopK(AnnFamily.Pq, emb, q, k = 5))
    rec("ivfpq", Similarity.rebuildTopK(AnnFamily.IvfPq, emb, q, k = 5))

    // sliced-merge scenario calibration (the x_sim_index_update_*
    // floors): corpus = vec_id % 5 != 0, full query batch, brute
    // baseline on the same sliced corpus — density knobs auto
    if (args.contains("scenarios")) {
      val sliced = emb.filter(col("vec_id") % 5 =!= 0)
      val bruteS = pairs(Similarity.bruteForceTopK(sliced, q, 5))
      def recS(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        put(s"recall $name", (bruteS intersect pairs(df)).size.toDouble / bruteS.size)
      recS("ivf_sliced", Similarity.rebuildTopK(AnnFamily.Ivf, sliced, q, k = 5))
      recS("pq_sliced", Similarity.rebuildTopK(AnnFamily.Pq, sliced, q, k = 5))
      recS("ivfpq_sliced", Similarity.rebuildTopK(AnnFamily.IvfPq, sliced, q, k = 5))
    }

    // knob sweep for the density-aware PQ shortlist: recall as a
    // function of (nprobe, shortlistFactor) at this fixture's density
    if (args.contains("sweep")) {
      for (sf <- Seq(2, 4, 8, 16, 32); np <- Seq(4, 6, 8)) {
        rec(s"ivfpq np=$np sf=$sf",
          Similarity.rebuildTopK(AnnFamily.IvfPq, emb, q, k = 5, nprobe = np,
            shortlistFactor = sf))
      }
      for (sf <- Seq(2, 4, 8, 16, 32))
        rec(s"pq sf=$sf",
          Similarity.rebuildTopK(AnnFamily.Pq, emb, q, k = 5, shortlistFactor = sf))
      // the shortlist LEVER at auto nlist/nprobe: how much recall a
      // deployment gives back by pinning shortlistFactor below the
      // √N auto (the composed probe's residual super-constant cost
      // term at high density — SURVEY r17 density row)
      for (sf <- Seq(8, 16, 32, 0)) {
        val tag = if (sf == 0) "auto" else sf.toString
        rec(s"ivfpq lever np=auto sf=$tag",
          Similarity.rebuildTopK(AnnFamily.IvfPq, emb, q, k = 5, shortlistFactor = sf))
      }
    }

    // SYNTHETIC high-density calibration: clustered vectors (256 seeded
    // gaussian centers + per-vector noise — the fixture embeddings'
    // shape, deterministically reproducible) at a density past the
    // retired cap's knee. The quantizer trains through the scaled
    // sampler (39·nlist rows), so nlist = √(N/2) > 512 really trains.
    args.find(a => a == "dense" || a.startsWith("dense=")).foreach { arg =>
      val nDense = if (arg.contains("=")) arg.split("=")(1).toInt else 1000000
      val dim = 16
      val nCenters = 256
      val centers = Array.tabulate(nCenters) { c =>
        val r = new java.util.Random(9000L + c)
        Array.fill(dim)(r.nextGaussian())
      }
      val bc = spark.sparkContext.broadcast(centers)
      val dense = spark.range(nDense.toLong).map { i =>
        val r = new java.util.Random(i)
        val c = bc.value((i % nCenters).toInt)
        (i, Array.tabulate(dim)(j => c(j) + 0.35 * r.nextGaussian()))
      }.toDF("vec_id", "embedding").localCheckpoint()
      val qD = dense.filter(col("vec_id") % math.max(1L, nDense / 64L) === 0)
      val nl = Similarity.densityNlist(nDense.toLong)
      val np = Similarity.densityNprobe(nDense.toLong, nl)
      require(nl > 512,
        s"dense calibration at N=$nDense resolves nlist=$nl ≤ 512 — " +
          "pick N past the retired cap's knee (≥ 1e6) for this mode to certify anything")
      put("dense_n", nDense.toDouble)
      put("dense_nlist", nl.toDouble)
      put("dense_nprobe", np.toDouble)
      put("dense_probed_fraction", np.toDouble / nl)
      put("dense_sample", Similarity.quantizerSampleSize(nl).toDouble)
      val bruteD = pairs(Similarity.bruteForceTopK(dense, qD, 5))
      def recD(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        put(s"recall $name", (bruteD intersect pairs(df)).size.toDouble / bruteD.size)
      recD("dense_ivf", Similarity.rebuildTopK(AnnFamily.Ivf, dense, qD, k = 5))
      recD("dense_ivfpq", Similarity.rebuildTopK(AnnFamily.IvfPq, dense, qD, k = 5))
    }

    // embed LSH + semantic recall vs exact pairs
    def ppairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ppairs(Similarity.embedDupPairsExact(emb, 0.4))
    val lshp = ppairs(Similarity.embedDupPairsLsh(emb, 0.4, 16, 5))
    val semp = ppairs(Similarity.semanticDupPairs(emb, 0.4, 8, 2, 3))
    put("embed_exact_pairs", exact.size.toDouble)
    put("embed_lsh_recall", (exact intersect lshp).size.toDouble / exact.size)
    put("embed_lsh_fp", (lshp -- exact).size.toDouble)
    put("embed_semantic_recall", (exact intersect semp).size.toDouble / exact.size)
    put("embed_semantic_fp", (semp -- exact).size.toDouble)

    args.find(_.startsWith("jsonOut=")).map(_.drop("jsonOut=".length)).foreach { out =>
      val json = metrics.map { case (k, v) =>
        s"""    "${k.replace("\"", "'")}": $v"""
      }.mkString(
        s"""{\n  "fixture": "$d",\n  "args": "${args.drop(1).mkString(" ")}",\n  "metrics": {\n""",
        ",\n", "\n  }\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"PROBE jsonOut -> $out")
    }

    spark.stop()
    System.exit(0)
  }
}
