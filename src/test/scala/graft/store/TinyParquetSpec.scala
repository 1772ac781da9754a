package graft.store

import org.apache.parquet.schema.MessageTypeParser
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.SparkSpec
import graft.operators.{Similarity, TextAnalysis}

/** Interop between the driver-side sidecar I/O and Spark-written parquet:
  * both writers' files must read back through both readers, and the
  * store loaders built on them must treat a 0-row sidecar as torn.
  */
class TinyParquetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("tinyparquet").toString

  test("Spark-written Int and Long sidecar columns read through TinyParquet.long") {
    val wd = tmp()
    Seq((1, 2L, 0.5), (3, 4L, -1.25)).toDF("cell", "n", "c")
      .coalesce(1).write.parquet(s"$wd/t")
    val groups = TinyParquet.readGroups(spark, s"$wd/t")
    // Spark writes an Int column as INT32: the branch long() exists for
    assert(groups.head.getType.getType("cell").asPrimitiveType.getPrimitiveTypeName
      === PrimitiveTypeName.INT32)
    assert(groups.map(g => (TinyParquet.long(g, "cell"), TinyParquet.long(g, "n"),
      TinyParquet.double(g, "c"))).toSet === Set((1L, 2L, 0.5), (3L, 4L, -1.25)))
    // a Spark-written centroid table (Int cell/dim) restores bit-exactly
    Seq((0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0), (1, 1, 0.1)).toDF("cell", "dim", "c")
      .coalesce(1).write.parquet(s"$wd/ivf/centroids")
    assert(Similarity.loadIvfCentroids(spark, s"$wd/ivf").map(_.toSeq).toSeq
      === Seq(Seq(1.0, 2.0), Seq(3.0, 0.1)))
  }

  test("writeGroups and appendGroups output reads back through spark.read.parquet") {
    val wd = tmp()
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 a; required int32 b; required double c; }")
    TinyParquet.writeGroups(spark, s"$wd/s", schema, f =>
      Seq(f.newGroup().append("a", 1L).append("b", 7).append("c", 0.5)))
    TinyParquet.appendGroups(spark, s"$wd/s", schema, f =>
      Seq(f.newGroup().append("a", 2L).append("b", 8).append("c", -1.5),
        f.newGroup().append("a", 3L).append("b", 9).append("c", 1e-300)))
    val back = spark.read.parquet(s"$wd/s")
    assert(back.schema.map(_.dataType.simpleString) === Seq("bigint", "int", "double"))
    assert(back.as[(Long, Int, Double)].collect().toSet
      === Set((1L, 7, 0.5), (2L, 8, -1.5), (3L, 9, 1e-300)))
    // writeGroups overwrites: only its own row survives
    TinyParquet.writeGroups(spark, s"$wd/s", schema, f =>
      Seq(f.newGroup().append("a", 4L).append("b", 0).append("c", 0.0)))
    assert(spark.read.parquet(s"$wd/s").as[(Long, Int, Double)].collect().toSeq
      === Seq((4L, 0, 0.0)))
  }

  test("Spark-written and driver-written stats generations sum in loadBm25Stats") {
    val dir = tmp()
    Seq((3L, 10L)).toDF("n_docs", "a_tokens").coalesce(1).write.parquet(s"$dir/stats")
    TinyParquet.appendGroups(spark, s"$dir/stats",
      MessageTypeParser.parseMessageType(
        "message s { required int64 n_docs; required int64 a_tokens; }"),
      f => Seq(f.newGroup().append("n_docs", 4L).append("a_tokens", 20L)))
    assert(TextAnalysis.loadBm25Stats(spark, dir).get
      .select("n_docs", "a_tokens").as[(Long, Long)].head() === ((7L, 30L)))
  }

  test("an empty store meta gives the rebuild hint, like a missing one") {
    val wd = tmp()
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    def hint(dir: String) = {
      val e = intercept[IllegalStateException](
        Similarity.loadIvfAssigned(spark, dir, cents))
      assert(e.getMessage.contains("no quantizer stamp") &&
        e.getMessage.contains("rebuild the store"), e.getMessage)
    }
    hint(s"$wd/missing")
    // a crash after the meta dir was created, before its file committed
    new java.io.File(s"$wd/empty/assigned_meta").mkdirs()
    hint(s"$wd/empty")
    // a committed 0-row meta file
    Seq.empty[(Long, Long)].toDF("qfp", "cell_bits")
      .coalesce(1).write.parquet(s"$wd/zero/assigned_meta")
    hint(s"$wd/zero")
  }
}
