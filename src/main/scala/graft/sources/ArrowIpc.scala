package graft.sources

import java.nio.file.{Files, Paths}

import graft.connector.ArrowCodec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}

/** Arrow IPC stream files as a Spark source/sink — the reference's
  * native data plane (`clickhouse-arrow/src/arrow/block.rs` serializes
  * every block as Arrow) persisted as files, so a graft user can hand
  * datasets to any Arrow-speaking tool (Polars, DuckDB, pyarrow)
  * without a format hop.
  *
  * Reuses the connector codec ([[ArrowCodec]]) end to end: write
  * encodes each partition independently into its own `.arrows` stream
  * file (embarrassingly parallel, no driver funnel); read decodes each
  * file in parallel off the `binaryFile` source. One footer read on the
  * driver recovers the schema. Local-FS paths here; the same byte
  * streams go to any `OutputStream` (the connector writes them into
  * chunked HTTP bodies).
  */
object ArrowIpc {

  /** Write each partition as one Arrow IPC stream file under `dir`. */
  def write(df: DataFrame, dir: String): Unit = {
    val schema = df.schema
    Files.createDirectories(Paths.get(dir))
    df.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      if (it.hasNext) {
        val bytes = ArrowCodec.encode(schema, it)
        Files.write(Paths.get(dir, f"part-$i%05d.arrows"), bytes)
      }
      Iterator.empty[Int].iterator
    }.count(): Unit
  }

  /** Read a directory of `.arrows` stream files back as a DataFrame. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val files = spark.read.format("binaryFile").load(s"$dir/*.arrows").select("content")
    val schema = ArrowCodec.readSchema(files.head().getAs[Array[Byte]](0))
    val rows = files.rdd.flatMap { r =>
      val deser = ExpressionEncoder(RowEncoder.encoderFor(schema))
        .resolveAndBind().createDeserializer()
      ArrowCodec.decode(r.getAs[Array[Byte]](0))._2.iterator.map(ir => deser(ir))
    }
    spark.createDataFrame(rows, schema)
  }
}
