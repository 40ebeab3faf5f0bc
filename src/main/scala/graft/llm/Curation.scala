package graft.llm

import org.apache.spark.sql.functions._

/** Training-data curation operators that run after the dedup/quality
  * passes in [[Dedup]]/[[TextOps]]: sequence packing, snapshot diffs and
  * the fill-in-the-middle transform. */
object Curation {

  /** Fixed-context span table over a per-doc token-count frame
    * (doc_id, toks): concatenate docs in doc_id order, split at every
    * `ctx` tokens, emit one row per (doc, sequence) span. The global
    * token offset rides [[graft.operators.Spectrum.withRunningSums]]
    * (range-partitioned prefix sums + broadcast offsets — never an
    * unpartitioned window); the span explode is per-row. Shared by
    * `x_pack_sequences` (whitespace counts) and `x_pack_sequences_bpe`
    * (learned-BPE counts — what a trainer's loader actually packs). */
  def packSpans(perDoc: org.apache.spark.sql.DataFrame, ctx: Long): org.apache.spark.sql.DataFrame =
    graft.operators.Spectrum
      .withRunningSums(perDoc, Nil, "doc_id", Seq("toks" -> "cum"))
      .withColumn("st", col("cum") - col("toks"))
      .withColumn("seq_id",
        explode(sequence(expr(s"st div $ctx"),
          expr(s"(st + toks - 1) div $ctx"))))
      .select(col("doc_id"), col("seq_id"),
        greatest(col("seq_id") * ctx - col("st"), lit(0L)).as("doc_off"),
        greatest(col("st") - col("seq_id") * ctx, lit(0L)).as("seq_off"),
        (least((col("seq_id") + 1) * ctx, col("st") + col("toks")) -
         greatest(col("seq_id") * ctx, col("st"))).as("span_len"))

  /** Corpus snapshot diff — dataset-versioning's core operation: which
    * docs were ADDED / REMOVED / MODIFIED between two corpus versions
    * (the audit a pipeline runs before retraining on a refreshed
    * crawl, and the provenance record a dataset release ships). Texts
    * compare by fixed-width digest (md5), never by shipping both full
    * texts through the join — at 100 TB the diff shuffles 16-byte
    * digests keyed by doc_id: ONE full-outer join, no other shuffle,
    * and with both versions bucketed by doc_id even that join is
    * co-located. */
  def snapshotDiff(v1: org.apache.spark.sql.DataFrame,
      v2: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v1.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h1"))
      .join(v2.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h2")),
        Seq("doc_id"), "full")
      .select(col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "modified")
          .otherwise("unchanged").as("status"))

  /** Fill-in-the-middle transformation (Bavarian et al. 2022,
    * arXiv:2207.14255 — the FIM objective infilling/code models train
    * with): for each doc with ≥ 3 whitespace tokens, a middle span is
    * cut out and the training text re-assembled in PSM order —
    * `<PRE> prefix <SUF> suffix <MID> middle` — so the model learns to
    * generate the middle conditioned on both sides. Span bounds are
    * DETERMINISTIC integer arithmetic on doc_id (engine-replayable; a
    * production pipeline derives them from a seeded hash and gates
    * application on hash < fim_rate — one extra predicate, same plan).
    * Split guarantees ≥ 1 token in each of prefix/middle/suffix; docs
    * too short to split pass through unchanged. Pure codegen'd column
    * ops — split/slice/array_join in ONE projection, no shuffle, no
    * UDF: at 100 TB this is a map-only pass that pipelines into
    * whatever scan precedes it. */
  def fimTransform(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = split(coalesce(col("text"), lit("")), " ")
    val len = size(toks).cast("long")
    // middle = toks[s+1 .. s+m] (1-based): s ∈ [1, L-2] keeps ≥1 prefix
    // token, m ∈ [1, L-1-s] keeps ≥1 suffix token
    val s = lit(1L) + pmod(col("doc_id"), len - lit(2L))
    // Column./ is double division — floor().cast(long) makes it the
    // integer `//` the oracle replays
    val m = lit(1L) + pmod(floor(col("doc_id") / lit(3L)).cast("long"), len - lit(1L) - s)
    docs.select(
      col("doc_id"),
      when(len >= 3,
        concat(
          lit("<PRE> "), array_join(slice(toks, lit(1), s.cast("int")), " "),
          lit(" <SUF> "),
          array_join(slice(toks, (s + m + lit(1L)).cast("int"), (len - s - m).cast("int")), " "),
          lit(" <MID> "), array_join(slice(toks, (s + lit(1L)).cast("int"), m.cast("int")), " ")))
        .otherwise(coalesce(col("text"), lit("")))
        .as("fim_text"))
  }

}
