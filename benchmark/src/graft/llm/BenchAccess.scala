package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The package-private pieces of the index layer the benchmark needs:
  * encoding new vectors against a stored IVF-PQ model (so they can be
  * appended with the public IndexStore.append), the artifacts' manifest
  * sizes, and the BM25 tokenizer the cold probe applies to its queries. */
object BenchAccess {
  /** (vid, cv: array<double>) rows -> the composed (vid, cell, codes) rows. */
  def ivfPqEncode(vectors: DataFrame, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], bounds: Array[Int]): DataFrame =
    Similarity.ivfPqEncodeDf(vectors, centroids, codebooks, bounds)

  def manifestRowTotal(s: SparkSession, path: String): Long =
    IndexStore.manifestRowTotal(s, path)

  def manifestSegments(s: SparkSession, path: String): Int =
    IndexStore.manifestEntries(s, path).size

  def bm25Segments(s: SparkSession, path: String): Int =
    TextOps.bm25ManifestRows(s, path).size
}
