package graft.llm

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Training-data curation operators a 100-TB LLM pipeline runs after the
  * dedup/quality passes in [[Dedup]]/[[TextOps]]: PII redaction, document
  * chunking, vocabulary building, stratified sampling, and deterministic
  * train/val/test splits.
  *
  * Scale design:
  *  - redact / chunk / split are pure per-row projections or generators —
  *    no shuffle, linear in input splits, codegen'd.
  *  - vocab is one explode + one hash aggregate with map-side partials;
  *    the `HAVING count >= k` cut keeps the result bounded (the long tail
  *    of hapax tokens never leaves the aggregate).
  *  - sampling/splitting derive the keep/assign decision from md5 of the
  *    row key — deterministic under retries, re-runs, and engine moves
  *    (CH `SAMPLE` semantics, reference `sql` passthrough), never
  *    `rand()`, which would break exactly-once curation lineage.
  */
object CurationQueries extends QueryRegistry {
  import Curation._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** DSIR hashed-feature log importance weight per document (shared by
    * `x_sel_dsir` and the `x_sel_dsir_resample` selection step): md5
    * unigram buckets (256), a single corpus aggregate builds both the
    * target (en) and source models, Laplace-smoothed log-ratios
    * broadcast back, per-doc weight = one more aggregate. */
  private def dsirLogWeights(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val words = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("doc_id"), col("lang"),
        substring(md5(col("w").cast("binary")), 1, 2).as("b"))
    val model = words.groupBy("b").agg(
      count(lit(1)).as("cs"),
      count(when(col("lang") === "en", 1)).as("ct"))
    val totals = model.agg(
      sum(col("cs")).cast("double").as("stot"),
      sum(col("ct")).cast("double").as("ttot"))
    val ratios = model.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct") + 1.0) / (col("ttot") + 256.0)) -
         log((col("cs") + 1.0) / (col("stot") + 256.0))).as("lr"))
    words.join(broadcast(ratios), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), round(sum(col("lr")), 6).as("logw"))
  }

  /** DuckDB replay of [[packSpans]] given a CTE named `bt` with
    * (doc_id, toks) rows: window-cumsum + range unnest + span math. */
  private def packOracleSuffix(ctx: Int): String =
    s"""c AS (
       |  SELECT doc_id, toks,
       |    CAST(sum(toks) OVER (ORDER BY doc_id) - toks AS BIGINT) AS st
       |  FROM bt),
       |e AS (
       |  SELECT doc_id, toks, st,
       |    unnest(range(st // $ctx, (st + toks - 1) // $ctx + 1)) AS seq
       |  FROM c)
       |SELECT doc_id, CAST(seq AS BIGINT) AS seq_id,
       |  CAST(greatest(seq * $ctx - st, 0) AS BIGINT) AS doc_off,
       |  CAST(greatest(st - seq * $ctx, 0) AS BIGINT) AS seq_off,
       |  CAST(least((seq + 1) * $ctx, st + toks)
       |     - greatest(seq * $ctx, st) AS BIGINT) AS span_len
       |FROM e""".stripMargin

  /** Shared oracle CTE prefix recomputing [[dsirLogWeights]] in DuckDB. */
  private val dsirOracleCtes =
    """WITH ww AS (
      |  SELECT doc_id, lang, substring(md5(w), 1, 2) AS b
      |  FROM (SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE w <> ''),
      |m AS (
      |  SELECT b, count(*) AS cs,
      |    count(*) FILTER (lang = 'en') AS ct
      |  FROM ww GROUP BY b),
      |tot AS (SELECT CAST(sum(cs) AS DOUBLE) stot,
      |               CAST(sum(ct) AS DOUBLE) ttot FROM m),
      |r AS (
      |  SELECT b, ln((ct + 1.0) / (ttot + 256.0))
      |           - ln((cs + 1.0) / (stot + 256.0)) AS lr
      |  FROM m, tot),
      |w AS (
      |  SELECT doc_id, count(*) AS n_toks, round(sum(lr), 6) AS logw
      |  FROM ww JOIN r USING (b)
      |  GROUP BY doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- PII redaction: email/phone scrubbing before training ----
    // The fixture corpus carries no PII, so the query plants a synthetic
    // contact line per doc, then redacts it — the regexes are the
    // operator under test (RE2-compatible so any engine can run them).
    QueryDef(
      "x_text_redact",
      (s, d) => {
        val withPii = concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        t(s, d, "documents").select(
          col("doc_id"),
          regexp_replace(
            regexp_replace(withPii,
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
            "\\+?\\d[\\d-]{7,}\\d", "[PHONE]").as("clean"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR)
             |      || '@example.com or +1-555-010-'
             |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
             |  FROM documents)
             |SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace(t,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |    '\+?\d[\d-]{7,}\d', '[PHONE]', 'g') AS clean
             |FROM w""".stripMargin)),

    // ---- chunking: overlapping fixed-size windows for context packing ----
    // chunk = 200 chars, stride = 150 (50 overlap). A generator per row —
    // no shuffle; at 100 TB output size is input × (size/stride).
    QueryDef(
      "x_text_chunk",
      (s, d) =>
        t(s, d, "documents")
          .select(
            col("doc_id"), col("text"),
            explode(sequence(lit(0), greatest(length(col("text")), lit(1)) - 1, lit(150))).as("off"))
          .where(col("off") < length(col("text")))
          .select(
            col("doc_id"),
            (col("off") / 150).cast("long").as("chunk_id"),
            substring(col("text"), col("off") + 1, lit(200)).as("chunk")),
      Some("""SELECT doc_id,
             |  CAST(off / 150 AS BIGINT) AS chunk_id,
             |  substr(text, off + 1, 200) AS chunk
             |FROM (
             |  SELECT doc_id, text,
             |    unnest(generate_series(0, greatest(length(text), 1) - 1, 150)) AS off
             |  FROM documents)
             |WHERE off < length(text)""".stripMargin)),

    // ---- vocabulary: token → document-frequency histogram ----
    QueryDef(
      "x_text_vocab",
      (s, d) =>
        t(s, d, "documents")
          .select(explode(split(lower(regexp_replace(col("text"), "[^A-Za-z0-9 ]", " ")), " +")).as("token"))
          .where(col("token") =!= "")
          .groupBy("token")
          .agg(count(lit(1)).as("cnt"))
          .where(col("cnt") >= 5),
      Some("""SELECT token, count(*) AS cnt FROM (
             |  SELECT unnest(str_split_regex(
             |    lower(regexp_replace(text, '[^A-Za-z0-9 ]', ' ', 'g')), ' +')) AS token
             |  FROM documents)
             |WHERE token <> '' GROUP BY token HAVING count(*) >= 5""".stripMargin)),

    // ---- stratified hash sampling: per-stratum deterministic rates ----
    // Different keep-rates per language (upsample rare strata); decision
    // is md5(doc_id), so the sample is stable across runs and engines.
    QueryDef(
      "x_smp2_stratified",
      (s, d) => {
        // md5-prefix buckets (b_smp1 technique): 2 hex chars = 256 strata
        // slots; 'en' keeps < '1a' (~10%), the rest keep < '80' (50%).
        val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
        t(s, d, "documents")
          .withColumn("h", h)
          .where(
            (col("lang") === "en" && col("h") < "1a") ||
            (col("lang") =!= "en" && col("h") < "80"))
          .select(col("doc_id"), col("lang"))
      },
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
             |  FROM documents)
             |WHERE (lang = 'en' AND h < '1a') OR (lang <> 'en' AND h < '80')""".stripMargin)),

    // ---- train/val/test split: 80/10/10, deterministic by content key ----
    QueryDef(
      "x_smp3_split",
      (s, d) => {
        // 'cc' = 204/256 ≈ 80%, 'e6' = 230/256 ≈ 90% — same md5-prefix
        // buckets, so a doc's split never changes between runs.
        val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
        t(s, d, "documents")
          .select(
            col("doc_id"),
            when(h < "cc", "train").when(h < "e6", "val")
              .otherwise("test").as("split"))
      },
      Some("""SELECT doc_id,
             |  CASE WHEN h < 'cc' THEN 'train' WHEN h < 'e6' THEN 'val'
             |       ELSE 'test' END AS split
             |FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
             |      FROM documents)""".stripMargin)),

    // ---- leak-safe train/val/test split ----
    // Splitting on doc_id hash (x_smp3) leaks: near-duplicate documents
    // can straddle train and val, inflating eval. Here the split key is
    // the CANONICALIZED-CONTENT hash (the x_dedup_normalized canon), so
    // formatting-variant duplicates co-assign by construction — every
    // 7th doc gets a mangled twin (uppercased, double-spaced) as
    // planted evidence, and the oracle recomputes both the grouping and
    // the assignment. 100-TB shape: the group key is a pure per-row
    // function of content, so co-assignment needs NO dedup-group join
    // and NO shuffle — a map-only pass (vs the naive join against a
    // dedup table, a full corpus shuffle). ----
    QueryDef(
      "x_smp10_leak_safe_split",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val mangled = docs.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            regexp_replace(upper(col("text")), " ", "  ").as("text"))
        // fused codegen kernel ≡ trim(regexp_replace(regexp_replace(
        // lower(text), "[^a-z0-9 ]", " "), " +", " ")) — one pass, no
        // Java-regex matchers (the chain's cost center at corpus scale);
        // the DuckDB oracle keeps the regex spelling, value parity gated
        val canon = call_function("canon_text", col("text"))
        val h = substring(md5(md5(canon.cast("binary")).cast("binary")), 1, 2)
        docs.unionByName(mangled)
          .select(
            col("doc_id"),
            md5(canon.cast("binary")).as("group_key"),
            when(h < "cc", "train").when(h < "e6", "val")
              .otherwise("test").as("split"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 10000000, replace(upper(text), ' ', '  ')
             |  FROM documents WHERE doc_id % 7 = 0
             |), keyed AS (
             |  SELECT doc_id,
             |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS group_key
             |  FROM u
             |)
             |SELECT doc_id, group_key,
             |  CASE WHEN h < 'cc' THEN 'train' WHEN h < 'e6' THEN 'val'
             |       ELSE 'test' END AS split
             |FROM (SELECT doc_id, group_key, substr(md5(group_key), 1, 2) AS h
             |      FROM keyed)""".stripMargin)),

    // ---- URL canonicalization + dedup (crawl hygiene) ----
    // Lowercase scheme+host, strip utm_* tracking params, fragments, and
    // trailing slashes, then group by the canonical form — the standard
    // pre-dedup step for crawled corpora. URLs synthesized from doc
    // attributes (two variants per doc collapse to one canonical form).
    QueryDef(
      "x_text_url_canon",
      (s, d) => {
        val base = concat(
          lit("HTTPS://Example.COM/docs/"), col("source"), lit("/"),
          col("doc_id").cast("string"))
        // odd docs get tracking noise + fragment; even get a trailing slash
        val raw = when(col("doc_id") % 2 === 1,
            concat(base, lit("?utm_source=feed&utm_campaign=x#section")))
          .otherwise(concat(base, lit("/")))
        val canon =
          regexp_replace(
            regexp_replace(
              regexp_replace(lower(raw), "#.*$", ""),
              "\\?utm_[^#]*", ""),
            "/+$", "")
        t(s, d, "documents")
          .select(canon.as("canon_url"))
          .groupBy("canon_url")
          .agg(count(lit(1)).as("n_variants"))
      },
      Some("""WITH r AS (
             |  SELECT CASE WHEN doc_id % 2 = 1
             |    THEN 'HTTPS://Example.COM/docs/' || source || '/' || CAST(doc_id AS VARCHAR)
             |         || '?utm_source=feed&utm_campaign=x#section'
             |    ELSE 'HTTPS://Example.COM/docs/' || source || '/' || CAST(doc_id AS VARCHAR) || '/'
             |    END AS raw
             |  FROM documents)
             |SELECT regexp_replace(regexp_replace(regexp_replace(lower(raw),
             |    '#.*$', ''), '\?utm_[^#]*', ''), '/+$', '') AS canon_url,
             |  count(*) AS n_variants
             |FROM r GROUP BY 1""".stripMargin)),

    // ---- quality-weighted sampling: keep-probability ∝ quality ----
    // Deterministic: keep iff md5 bucket (0..255) < 256 · min(1, score),
    // with score derived from document length — long docs kept more
    // often. Same lineage guarantees as x_smp2 (stable under retries).
    QueryDef(
      "x_smp4_weighted",
      (s, d) => {
        val score = least(lit(1.0), length(col("text")).cast("double") / 400.0)
        val bucket = conv(
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2), 16, 10)
          .cast("long")
        t(s, d, "documents")
          .withColumn("keep_threshold", floor(score * 256).cast("long"))
          .where(bucket < col("keep_threshold"))
          .select(col("doc_id"), col("keep_threshold"))
      },
      Some("""SELECT doc_id, keep_threshold FROM (
             |  SELECT doc_id,
             |    CAST(floor(least(1.0, length(text) / 400.0) * 256) AS BIGINT) AS keep_threshold,
             |    CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             |       + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
             |      AS BIGINT) AS bkt
             |  FROM documents)
             |WHERE bkt < keep_threshold""".stripMargin)),

    // ---- domain-mixture resampling: downsample every source to the
    // smallest source's share so the output mixture is (near-)uniform
    // across domains — the balancing step of a training-data mixing
    // recipe. Keep-probability per source = min_n / n_src, applied
    // through the same deterministic md5 bucket rule as x_smp4 (so the
    // keep set is stable under retries/re-runs). Scale shape: per-source
    // counts are one aggregation over a bounded domain set, broadcast
    // back; the corpus itself is filtered in one map-side pass — no
    // corpus shuffle. 256-bucket granularity means realized shares match
    // targets to ±1/256, the documented tradeoff for a stateless rule.
    // The fixture's sources are exactly uniform (min_n/n_src = 1 would
    // make the op a no-op), so the query PLANTS skew first — 2/3 of the
    // corpus collapses into one dominant 'web' domain — and the rule
    // must pull that domain down to the small-domain share. ----
    QueryDef(
      "x_smp9_mixture",
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("source",
            when(col("doc_id") % 3 =!= 0, lit("web")).otherwise(col("source")))
        val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
        val minN = counts.agg(min(col("n_src")).as("min_n"))
        val bucket = conv(
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2), 16, 10)
          .cast("long")
        docs.join(broadcast(counts), Seq("source"))
          .crossJoin(broadcast(minN))
          .withColumn("keep_threshold",
            floor(col("min_n") * lit(256.0) / col("n_src")).cast("long"))
          .where(bucket < col("keep_threshold"))
          .select(col("doc_id"), col("source"), col("keep_threshold"))
      },
      Some("""WITH docs AS (SELECT doc_id,
             |    CASE WHEN doc_id % 3 <> 0 THEN 'web' ELSE source END AS source
             |  FROM documents),
             |c AS (SELECT source, count(*) AS n_src FROM docs GROUP BY source),
             |m AS (SELECT min(n_src) AS min_n FROM c)
             |SELECT doc_id, source, keep_threshold FROM (
             |  SELECT d.doc_id, d.source,
             |    CAST(floor(m.min_n * 256.0 / c.n_src) AS BIGINT) AS keep_threshold,
             |    CAST((strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             |       + (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1)
             |      AS BIGINT) AS bkt
             |  FROM docs d JOIN c USING (source) CROSS JOIN m)
             |WHERE bkt < keep_threshold""".stripMargin)),

    // ---- shard packing: bin documents into shards by token budget ----
    // Two-level so it scales: a hash bucket bounds each packing window
    // (16 here; 4096 at corpus scale), then a per-bucket cumulative
    // token sum cuts shards every `budget` tokens. The window partitions
    // on the bucket — never a single global sort — and shard ids are
    // (bucket, cut) pairs, so packing is deterministic and
    // embarrassingly parallel across buckets.
    QueryDef(
      "x_pack_shards",
      (s, d) => {
        val budget = 5000L
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket")).orderBy(col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), (col("doc_id") % 16).as("bucket"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .withColumn("cum", sum(col("toks")).over(w))
          .select(col("doc_id"), col("bucket"),
            expr(s"(cum - 1) div $budget").as("shard_in_bucket"),
            col("toks"))
      },
      Some("""SELECT doc_id, doc_id % 16 AS bucket,
             |  CAST((cum - 1) // 5000 AS BIGINT) AS shard_in_bucket, toks
             |FROM (
             |  SELECT doc_id,
             |    CAST(len(str_split(text, ' ')) AS BIGINT) AS toks,
             |    sum(CAST(len(str_split(text, ' ')) AS BIGINT))
             |      OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS cum
             |  FROM documents)""".stripMargin)),

    // ---- sequence-length bucketing (training batch planning): docs
    // group into power-of-2 token-length buckets — the table a batch
    // scheduler reads to build fixed-shape batches with minimal padding
    // waste. One hash-aggregate over the corpus; the padding-waste
    // estimate (bucket ceiling minus actual tokens) falls out of the
    // same pass. Scales: output is bucket-count-bounded. ----
    QueryDef(
      "x_smp8_length_buckets",
      (s, d) =>
        t(s, d, "documents")
          .select(size(split(col("text"), " ")).cast("long").as("toks"))
          .select(col("toks"),
            ceil(log2(greatest(col("toks"), lit(1L)))).cast("long").as("bucket"))
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("toks")).as("tokens"),
            (sum(expr("CAST(pow(2, bucket) AS BIGINT)")) - sum(col("toks")))
              .cast("long").as("pad_waste"))
          .orderBy(col("bucket")),
      Some("""SELECT bucket, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens,
             |  CAST(sum(CAST(pow(2, bucket) AS BIGINT)) - sum(toks) AS BIGINT) AS pad_waste
             |FROM (
             |  SELECT toks,
             |    CAST(ceil(log2(greatest(toks, 1))) AS BIGINT) AS bucket
             |  FROM (SELECT CAST(len(str_split(text, ' ')) AS BIGINT) AS toks
             |        FROM documents))
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ---- weighted source interleaving (the Pile-style data MIXTURE:
    // sample each source at a fixed ratio). Per-source quotas are
    // round(w_s · available); the picks are the md5-least documents
    // within each source — deterministic, reproducible, and the rank
    // window partitions on the SOURCE key (bounded groups), never a
    // global sort. ----
    QueryDef(
      "x_smp7_interleave",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))
        val weights = typedLit(Map("src0" -> 0.9, "src1" -> 0.5, "src2" -> 0.7))
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            md5(col("doc_id").cast("string").cast("binary")).as("h"))
          .withColumn("rn", row_number().over(W))
          .withColumn("quota", round(
            coalesce(element_at(weights, col("source")), lit(0.25)) *
              count(lit(1)).over(
                org.apache.spark.sql.expressions.Window.partitionBy(col("source")))))
          .where(col("rn") <= col("quota"))
          .select(col("doc_id"), col("source"), col("rn").cast("long").as("rank_in_source"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, source,
             |    md5(CAST(doc_id AS VARCHAR)) h,
             |    row_number() OVER (PARTITION BY source
             |                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) rn,
             |    count(*) OVER (PARTITION BY source) n
             |  FROM documents)
             |SELECT doc_id, source, CAST(rn AS BIGINT) AS rank_in_source
             |FROM w
             |WHERE rn <= round(CASE source WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.5
             |                  WHEN 'src2' THEN 0.7 ELSE 0.25 END * n)""".stripMargin)),

    // ---- the training MANIFEST: the pipeline's end product as one
    // declarative plan — dedupe (canon hash keep-lowest), split
    // (md5-bucket train/val/test, x_smp3's exact semantics), and for
    // train docs a token-budget shard id (x_pack_shards' two-level
    // packing). What a 100-TB run writes as its index: every kept doc,
    // its split, and where its tokens physically land. ----
    QueryDef(
      "x_pipe_manifest",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy(col("canon")).orderBy(col("doc_id"))
        val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
        val packW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket")).orderBy(col("doc_id"))
        // fused codegen kernel ≡ trim(regexp_replace(regexp_replace(
        // lower(text), "[^a-z0-9 ]", " "), " +", " ")) — one pass, no
        // Java-regex matchers (the chain's cost center at corpus scale);
        // the DuckDB oracle keeps the regex spelling, value parity gated
        val canon = call_function("canon_text", col("text"))
        t(s, d, "documents")
          .withColumn("canon", canon)
          .withColumn("rn", row_number().over(W))
          .where(col("rn") === 1)
          .withColumn("split",
            when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
          .withColumn("toks", size(split(col("canon"), " ")).cast("long"))
          .withColumn("bucket",
            when(col("split") === "train", col("doc_id") % 8).otherwise(lit(-1L)))
          .withColumn("cum", sum(col("toks")).over(packW))
          .select(col("doc_id"), col("split"),
            when(col("split") === "train", expr("(cum - 1) div 4000"))
              .otherwise(lit(null).cast("long")).as("shard"),
            col("toks"))
      },
      Some("""WITH c AS (
             |  SELECT doc_id, lang,
             |    trim(regexp_replace(regexp_replace(lower(text),
             |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
             |  FROM documents),
             |dd AS (
             |  SELECT doc_id, canon,
             |    row_number() OVER (PARTITION BY canon ORDER BY doc_id) rn
             |  FROM c),
             |k AS (
             |  SELECT doc_id, canon,
             |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
             |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
             |         ELSE 'test' END AS split,
             |    CAST(len(str_split(canon, ' ')) AS BIGINT) AS toks
             |  FROM dd WHERE rn = 1),
             |p AS (
             |  SELECT doc_id, split, toks,
             |    CASE WHEN split = 'train' THEN doc_id % 8 ELSE -1 END AS bucket
             |  FROM k),
             |w AS (
             |  SELECT doc_id, split, toks, bucket,
             |    sum(toks) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
             |  FROM p)
             |SELECT doc_id, split,
             |  CASE WHEN split = 'train' THEN CAST((cum - 1) // 4000 AS BIGINT)
             |       ELSE NULL END AS shard,
             |  toks
             |FROM w""".stripMargin)),

    // ---- data-contract audit: the pre-training sanity report as ONE
    // query — null checks, range checks, duplicate keys, FK orphans,
    // each a cheap aggregate/anti-join, unioned into (check, violations).
    // Every branch is partial-aggregated or broadcast-anti-joined; the
    // union is plan-level (no extra pass over any input). ----
    QueryDef(
      "x_audit_contract",
      (s, d) => {
        val docs = t(s, d, "documents")
        val emb = t(s, d, "embeddings")
        val checks = Seq(
          docs.agg(sum(when(col("text").isNull || col("text") === "", 1).otherwise(0))
            .cast("long").as("violations"))
            .select(lit("doc_text_null_or_empty").as("check"), col("violations")),
          docs.agg(sum(when(col("n_chars") < 0 || col("n_chars") > 100000, 1).otherwise(0))
            .cast("long").as("violations"))
            .select(lit("doc_nchars_range").as("check"), col("violations")),
          docs.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
            .agg(sum(when(col("c") > 1, col("c") - 1).otherwise(0))
              .cast("long").as("violations"))
            .select(lit("doc_id_duplicates").as("check"), col("violations")),
          emb.agg(sum(when(size(col("embedding")) =!= 64, 1).otherwise(0))
            .cast("long").as("violations"))
            .select(lit("embedding_dim_drift").as("check"), col("violations")),
          emb.join(docs.select(col("doc_id")),
              emb("vec_id") === docs("doc_id"), "left_anti")
            .agg(count(lit(1)).as("violations"))
            .select(lit("embedding_orphans").as("check"), col("violations")))
        checks.reduce(_ unionByName _)
      },
      Some("""SELECT 'doc_text_null_or_empty' AS "check",
             |  CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS violations
             |FROM documents
             |UNION ALL
             |SELECT 'doc_nchars_range',
             |  CAST(sum(CASE WHEN n_chars < 0 OR n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT)
             |FROM documents
             |UNION ALL
             |SELECT 'doc_id_duplicates',
             |  CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM (
             |    SELECT count(*) c FROM documents GROUP BY doc_id HAVING count(*) > 1)
             |UNION ALL
             |SELECT 'embedding_dim_drift',
             |  CAST(sum(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END) AS BIGINT)
             |FROM embeddings
             |UNION ALL
             |SELECT 'embedding_orphans',
             |  CAST(count(*) AS BIGINT) FROM embeddings e
             |  WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)"""
        .stripMargin)),

    // ---- weighted reservoir sampling WITHOUT replacement (Efraimidis-
    // Spiridakis A-Res): key each row by u^(1/w) with a DETERMINISTIC
    // uniform u (Knuth multiplicative hash — no RNG state, no hex casts),
    // then take the global top-k by key. The top-k is Spark's TopN
    // (per-partition heads + merge), so the full corpus never sorts —
    // the textbook distributed form of the algorithm. Weight = n_chars:
    // longer docs proportionally likelier, each picked at most once. ----
    QueryDef(
      "x_smp6_reservoir",
      (s, d) => {
        // reduce doc_id mod p BEFORE the Knuth multiply: the raw product
        // wraps silently in Spark (non-ANSI) above doc_id ~3.4e9 while
        // DuckDB raises on BIGINT overflow — the reduced form computes
        // the same uniform ((a % p) * c % p == a * c % p) at any doc_id
        val u = ((col("doc_id") % 1000003L) * 2654435761L % 1000003L + 1L) / 1000004.0
        t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            pow(u, lit(1.0) / col("n_chars")).as("prio"))
          .orderBy(col("prio").desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"), col("n_chars"), round(col("prio"), 9).as("prio"))
      },
      Some("""SELECT doc_id, n_chars,
             |  round(pow((doc_id % 1000003 * 2654435761 % 1000003 + 1) / 1000004.0,
             |            1.0 / n_chars), 9) AS prio
             |FROM documents
             |ORDER BY pow((doc_id % 1000003 * 2654435761 % 1000003 + 1) / 1000004.0,
             |             1.0 / n_chars) DESC, doc_id
             |LIMIT 20""".stripMargin)),

    // ---- deterministic epoch shuffle: the training-order permutation
    // for epoch N is ORDER BY md5(id, seed=N) — reproducible, seekable,
    // no RNG. The global position here pins the full permutation for the
    // oracle; at corpus scale the writer only needs ORDER BY shuffle_key
    // (range-partitioned, b_srt2's path) — no global row_number. ----
    QueryDef(
      "x_smp5_epoch_shuffle",
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            md5(concat(col("doc_id").cast("string"), lit("_ep7"))).as("shuffle_key"))
          .withColumn("pos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("shuffle_key"), col("doc_id"))).cast("long")),
      Some("""SELECT doc_id,
             |  md5(CAST(doc_id AS VARCHAR) || '_ep7') AS shuffle_key,
             |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || '_ep7'), doc_id)
             |       AS BIGINT) AS pos
             |FROM documents""".stripMargin)),

    // ---- end-to-end curation pipeline (the composition story: the ops
    // above chained as ONE declarative plan). normalize → exact-dedup
    // (keep lowest id per canon) → Gopher-style shape filters (word
    // count, mean word length). Catalyst fuses the whole chain: one
    // shuffle (the dedup window on the canon key), everything else
    // per-row; the filters run AFTER dedup so the expensive stages see
    // the deduped set — at 100 TB that ordering is the cost model. ----
    QueryDef(
      "x_pipe_curate",
      (s, d) => {
        // round-9 shuffle-payload fix: the quality gates (n_words,
        // avg word length) are pure functions of the canon text, so
        // they are CONSTANT within a dedup group — the filter commutes
        // with the dedup and runs BEFORE the window (fewer rows
        // shuffle); and the window partitions on md5(canon), a 16-byte
        // key, instead of the raw canon text, so the exchange carries
        // (doc_id, lang, hash, nw) rows instead of kilobyte strings.
        // (Measured at sf0.1 the two shapes tie — the fixture's docs are
        // small, so the regex canonicalization dominates; the payload
        // cut is the 100-TB win, where multi-KB documents would ride
        // the dedup exchange.)
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy(col("ck")).orderBy(col("doc_id"))
        // fused codegen kernel ≡ trim(regexp_replace(regexp_replace(
        // lower(text), "[^a-z0-9 ]", " "), " +", " ")) — one pass, no
        // Java-regex matchers (the chain's cost center at corpus scale);
        // the DuckDB oracle keeps the regex spelling, value parity gated
        val canon = call_function("canon_text", col("text"))
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), canon.as("canon"))
          .withColumn("nw", size(split(col("canon"), " ")).cast("double"))
          .where(col("nw") >= 20 &&
            (length(regexp_replace(col("canon"), " ", "")) / col("nw"))
              .between(3.0, 12.0))
          .select(col("doc_id"), col("lang"), md5(col("canon")).as("ck"), col("nw"))
          .withColumn("rn", row_number().over(W))
          .where(col("rn") === 1)
          .select(col("doc_id"), col("lang"), col("nw").cast("long").as("n_words"))
      },
      Some("""WITH c AS (
             |  SELECT doc_id, lang,
             |    trim(regexp_replace(regexp_replace(lower(text),
             |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
             |  FROM documents),
             |dd AS (
             |  SELECT *, row_number() OVER (PARTITION BY canon ORDER BY doc_id) rn
             |  FROM c),
             |k AS (
             |  SELECT doc_id, lang, canon,
             |    CAST(len(str_split(canon, ' ')) AS DOUBLE) AS nw
             |  FROM dd WHERE rn = 1)
             |SELECT doc_id, lang, CAST(nw AS BIGINT) AS n_words
             |FROM k
             |WHERE nw >= 20
             |  AND length(replace(canon, ' ', '')) / nw BETWEEN 3.0 AND 12.0""".stripMargin)),

    // ---- DSIR-style importance weights (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): score
    // every corpus doc by how target-like its hashed-feature distribution
    // is. Features are md5-bucketed unigrams (256 buckets — the paper's
    // hashed n-grams); the target here is the English subset; both the
    // target and source bucket models come out of ONE corpus aggregate
    // (count + conditional count per bucket), Laplace-smoothed; each
    // doc's log importance weight is the sum over its token OCCURRENCES
    // of log p_target(bucket) - log p_source(bucket).
    //
    // Scale shape: the model is a 256-row frame (bounded regardless of
    // corpus size) built with map-side partials and joined back as a
    // BROADCAST; the only corpus-wide shuffles are that one bucket
    // aggregate and the per-doc weight aggregate. At 100 TB the model
    // pass and the scoring pass stream; nothing is ever corpus-sized on
    // the driver. ----
    QueryDef(
      "x_sel_dsir",
      (s, d) => dsirLogWeights(t(s, d, "documents")),
      Some(dsirOracleCtes + "\nSELECT doc_id, n_toks, logw FROM w")),

    // ---- DSIR selection step: Gumbel-top-k resampling without
    // replacement, proportional to the per-token importance weight.
    // key = logw/n_toks - ln(-ln(u)) with a DETERMINISTIC uniform u
    // (the x_smp6 Knuth multiplicative hash — no RNG state, re-runs
    // pick the same set); top-k is Spark's TopN (per-partition heads +
    // merge — the corpus never globally sorts). ----
    QueryDef(
      "x_sel_dsir_resample",
      (s, d) => {
        // mod-p-first Knuth uniform — see x_smp6_reservoir's overflow note
        val u = ((col("doc_id") % 1000003L) * 2654435761L % 1000003L + 1L) / 1000004.0
        dsirLogWeights(t(s, d, "documents"))
          .select(col("doc_id"),
            (col("logw") / col("n_toks") - log(-log(u))).as("key"))
          .orderBy(col("key").desc, col("doc_id"))
          .limit(50)
          .select(col("doc_id"), round(col("key"), 6).as("key"))
      },
      Some(dsirOracleCtes +
        """
          |SELECT doc_id, round(k, 6) AS key FROM (
          |  SELECT doc_id,
          |    logw / n_toks
          |      - ln(-ln((doc_id % 1000003 * 2654435761 % 1000003 + 1) / 1000004.0)) AS k
          |  FROM w)
          |ORDER BY k DESC, doc_id
          |LIMIT 50""".stripMargin)),

    // ---- fixed-context sequence packing: concatenate the corpus in
    // doc_id order and split it into training sequences of exactly CTX
    // tokens, emitting one row per (doc, sequence) SPAN — including docs
    // that straddle a sequence boundary, which per-shard packing
    // (x_pack_shards) never splits. This is the table a trainer's data
    // loader actually consumes: for each sequence, which doc bytes fill
    // it and at what offset.
    //
    // Scale shape: the global token offset is a corpus-sized running
    // sum, so it rides Spectrum.withRunningSums (range-partition +
    // per-partition prefix + broadcast offsets — operators/Spectrum
    // .scala), NEVER an unpartitioned window; the span explode is
    // per-row (a doc yields ceil(toks/CTX)+1 spans at most); nothing
    // else shuffles. ----
    QueryDef(
      "x_pack_sequences",
      (s, d) => {
        // NULL-text guard: size(split(NULL)) is -1 under Spark's legacy
        // sizeOfNull, which would corrupt the running-sum offsets for
        // every subsequent doc (DuckDB yields NULL → divergence).
        // coalesce to '' — split('') is [''] in BOTH engines, so a null/
        // empty doc counts as exactly 1 token on both sides.
        val base = t(s, d, "documents")
          .select(col("doc_id"),
            size(split(coalesce(col("text"), lit("")), " ")).cast("long").as("toks"))
        packSpans(base, ctx = 128L)
      },
      Some("""WITH bt AS (
             |  SELECT doc_id,
             |    CAST(len(str_split(coalesce(text, ''), ' ')) AS BIGINT) AS toks
             |  FROM documents),
             |""".stripMargin + packOracleSuffix(128))),

    // ---- corpus snapshot diff: v1 = ids not divisible by 3, v2 = ids
    // not divisible by 2 with every 7th doc's text revised — so the
    // fixture exercises all four statuses (added = odd multiples of 3,
    // removed = even non-multiples of 3, modified = id%6 ∈ {1,5} ∧
    // id%7==0, rest unchanged). Digest-compare on the engine side,
    // direct text compare on the oracle side — same statuses. ----
    QueryDef(
      "x_pipe_snapshot_diff",
      (s, d) => {
        val docs = t(s, d, "documents")
        val v1 = docs.where(pmod(col("doc_id"), lit(3L)) =!= 0)
          .select(col("doc_id"), col("text"))
        val v2 = docs.where(pmod(col("doc_id"), lit(2L)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(7L)) === 0,
              concat(coalesce(col("text"), lit("")), lit(" rev2")))
              .otherwise(coalesce(col("text"), lit(""))).as("text"))
        snapshotDiff(v1, v2)
      },
      Some("""WITH v1 AS (SELECT doc_id, coalesce(text, '') AS t
             |  FROM documents WHERE doc_id % 3 <> 0),
             |v2 AS (SELECT doc_id,
             |  CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') || ' rev2'
             |       ELSE coalesce(text, '') END AS t
             |  FROM documents WHERE doc_id % 2 <> 0)
             |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             |  CASE WHEN v1.doc_id IS NULL THEN 'added'
             |       WHEN v2.doc_id IS NULL THEN 'removed'
             |       WHEN v1.t <> v2.t THEN 'modified'
             |       ELSE 'unchanged' END AS status
             |FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id""".stripMargin)),

    // ---- fill-in-the-middle (FIM) transformation: PSM re-assembly with
    // deterministic span bounds (pure integer arithmetic on doc_id);
    // DuckDB replays the exact split + re-assembly string for every doc,
    // short docs pass through. One map-only projection. ----
    QueryDef(
      "x_pack_fim",
      (s, d) => fimTransform(t(s, d, "documents")),
      Some("""WITH p AS (
             |  SELECT doc_id, str_split(coalesce(text, ''), ' ') AS t,
             |    CAST(len(str_split(coalesce(text, ''), ' ')) AS BIGINT) AS L,
             |    coalesce(text, '') AS orig
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, t, L, orig,
             |    1 + (doc_id % (L - 2)) AS s
             |  FROM p WHERE L >= 3),
             |c2 AS (
             |  SELECT doc_id, t, L, orig, s,
             |    1 + ((doc_id // 3) % (L - 1 - s)) AS m
             |  FROM c)
             |SELECT doc_id,
             |  '<PRE> ' || array_to_string(t[1:s], ' ') ||
             |  ' <SUF> ' || array_to_string(t[s+m+1:L], ' ') ||
             |  ' <MID> ' || array_to_string(t[s+1:s+m], ' ') AS fim_text
             |FROM c2
             |UNION ALL
             |SELECT doc_id, orig AS fim_text FROM p WHERE L < 3""".stripMargin)),

    // ---- tokenizer-true sequence packing (round-11 verdict next-#4):
    // the same span table, but over LEARNED-BPE token counts instead of
    // whitespace counts — bpeEncode's per-doc bpe_tokens feeds packSpans
    // directly, so the packing table is sized in the units the trainer's
    // loader actually consumes. Composition cost on top of the BPE
    // encode: ONE range shuffle of a (doc_id, toks) frame — the corpus
    // text is never touched again. Docs with no alphabetic words carry
    // no BPE tokens and are absent, exactly as the tokenizer sees them.
    // The oracle replays the full 6-merge BPE chain (the
    // x_text_bpe_encode CTEs) and then the packing cumsum. ----
    QueryDef(
      "x_pack_sequences_bpe",
      (s, d) =>
        packSpans(
          TextOps.bpeEncodeWith(t(s, d, "documents"), TextOps.bpeVocabFor(s, d, 6))
            .select(col("doc_id"), col("bpe_tokens").as("toks")),
          ctx = 128L),
      Some(TextOpsQueries.bpeOracleCtes(6, withDocs = true) +
        """,
          |nsym AS (SELECT word, CAST(len(str_split_regex(trim(seq), '  ')) AS BIGINT) AS n_sym FROM v6),
          |bt AS (
          |  SELECT wd.doc_id, CAST(sum(wd.k * nsym.n_sym) AS BIGINT) AS toks
          |  FROM wd JOIN nsym USING (word) GROUP BY 1),
          |""".stripMargin + packOracleSuffix(128)))
  )
}
