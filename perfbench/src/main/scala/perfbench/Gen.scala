package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

/** Seeded input generators. Everything the program reads in a run is
  * written here first, so one seed always gives the same inputs.
  */
object Gen {

  /** Messages per broker batch: the reference's default
    * `batchsettings.batchsize`, one events file per batch.
    */
  val BatchSize = 5000
  val Users = 1500
  // seeded skew: view-heavy traffic, rare errors
  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")
  private val TypeWeights = Array(40, 30, 15, 10, 5)
  val T0: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  /** Event-time step: 5000 events span about a day and a half. */
  val StepMs = 25000L

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** What the generator knows about one events file: enough to check
    * every sink the pipeline writes. `ids` holds (broker, event id, event
    * time ms) of every valid message.
    */
  final case class EventFile(n: Long, perBroker: Map[String, Long], poison: Long,
      uniqueFp: Long, ids: Array[(String, Long, Long)])

  /** Order-insensitive 64-bit fingerprint term of one string. */
  def fp(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  private def pickType(r: SplittableRandom): String = {
    var x = r.nextInt(TypeWeights.sum)
    var i = 0
    while (x >= TypeWeights(i)) { x -= TypeWeights(i); i += 1 }
    EventTypes(i)
  }

  /** One file of [[BatchSize]] events with contiguous ids from
    * `file * BatchSize` (a multiple of the blob size), about 1% poison
    * rows with a null `event_type`, and users skewed towards low ids.
    */
  def eventRows(seed: Long, file: Int): (Seq[Row], EventFile) = {
    val r = new SplittableRandom(seed * 1000003L + file)
    val first = file.toLong * BatchSize
    val per = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var poison = 0L
    var ufp = 0L
    val ids = Array.newBuilder[(String, Long, Long)]
    val rows = (0 until BatchSize).map { i =>
      val id = first + i
      val x = r.nextDouble()
      val user = (Users * x * x * x).toLong
      val et = if (r.nextInt(100) == 0) null else pickType(r)
      val ts = new Timestamp(T0 + id * StepMs + r.nextInt(20000))
      if (et == null) poison += 1
      else {
        val broker = s"t-$et"
        per(broker) += 1
        ufp += fp(s"${broker}_$id")
        ids += ((broker, id, ts.getTime))
      }
      Row(id, ts, user, et, math.rint(r.nextDouble() * 10000) / 100,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    (rows, EventFile(BatchSize, per.toMap, poison, ufp, ids.result()))
  }

  /** Write `files` events files as `<dir>/f<NNN>`, one parquet file each. */
  def writeEvents(spark: SparkSession, seed: Long, dir: String, files: Int): Seq[EventFile] =
    (0 until files).map { f =>
      val (rows, meta) = eventRows(seed, f)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), EventSchema)
        .coalesce(1).write.parquet(f"$dir/f$f%03d")
      meta
    }

  // ------------------------------------------------------------- corpus

  /* The corpus stands in for the sf0.1 `documents`, `embeddings`, `orders`
   * and `lineitem` tables, which a checkout does not hold. Its shape is
   * theirs (figures in perfbench/LAYERS.md); its size is a fifth of theirs.
   */

  /** The 30 words of the sf0.1 documents, each about equally frequent. */
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark " +
    "stream table the value vector window").split(" ")
  /** Appended to a copied document to make a near-duplicate, as in sf0.1. */
  val DupMarker = "dup"
  /** Languages of the sf0.1 documents and their shares in percent. */
  private val Langs = Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  val Docs = 1000
  val Vecs = 400
  val Orders = 30000

  /** `dir`, once `make` has filled it. Only the `prepare` step, which
    * `perfbench/run.py` runs in a process of its own after each build, may
    * fill it: a timed run finds it ready, so its set-up never includes it.
    */
  def cached(dir: String, prepare: Boolean)(make: String => Unit): String = {
    val ready = java.nio.file.Paths.get(dir, "_READY")
    if (!java.nio.file.Files.exists(ready)) {
      require(prepare, s"$dir is not prepared; perfbench/run.py prepares it after a build")
      graft.streaming.PersistPipeline.deleteRecursively(java.nio.file.Paths.get(dir))
      make(dir)
      java.nio.file.Files.createFile(ready)
    }
    dir
  }

  /** The fixed corpus the `operators` workload and the `serve` stores
    * read. It does not depend on the workload seed, so it is an input like
    * a dataset on disk, and its operator oracles are computed once.
    */
  def corpus(spark: SparkSession, cacheDir: String, prepare: Boolean = false): String =
    cached(s"$cacheDir/corpus-$Docs-$Vecs-$Orders", prepare)(writeCorpus(spark, _, Docs, Vecs, Orders))

  /** From a fixed generator seed, with the sf0.1 shape: documents of 10 to
    * 100 words drawn uniformly from [[Vocab]], 5% of them near-duplicates
    * (another document's text plus [[DupMarker]]), languages in the sf0.1
    * shares, 20 sources in turn; unit-norm 64-d embeddings in random
    * directions with 10 labels drawn uniformly; 10 orders per customer,
    * 1 to 7 line items per order except 2% of orders with none, and one
    * supplier per 150 orders.
    */
  def writeCorpus(spark: SparkSession, dir: String, docs: Int, vecs: Int, orders: Int): Unit = {
    val r = new SplittableRandom(20240101L)
    val texts = Array.fill(docs)(Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    texts.indices.foreach { i =>
      if (r.nextInt(100) < 5) {
        var j = r.nextInt(docs)
        while (j == i) j = r.nextInt(docs)
        texts(i) = s"${texts(j)} $DupMarker"
      }
    }
    val docRows = texts.indices.map { i =>
      var x = r.nextInt(100)
      val lang = Langs.find { case (_, w) => x -= w; x < 0 }.get._1
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))).coalesce(1).write.parquet(s"$dir/documents.parquet")

    val dim = 64
    val vecRows = (0 until vecs).map { i =>
      val g = Array.fill(dim)(gaussian(r))
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))).coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    val custs = math.max(orders / 10, 1)
    val supps = math.max(orders / 150, 1)
    val orderRows = (0 until orders).map(o => Row(o.toLong, r.nextInt(custs).toLong))
    spark.createDataFrame(java.util.Arrays.asList(orderRows: _*), StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType))))
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    val lineRows = (0 until orders).flatMap { o =>
      val n = if (r.nextInt(50) == 0) 0 else 1 + r.nextInt(7)
      Seq.fill(n)(Row(o.toLong, r.nextInt(supps).toLong))
    }
    spark.createDataFrame(java.util.Arrays.asList(lineRows: _*), StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_suppkey", LongType))))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
  }

  /** A standard normal draw (Box-Muller). */
  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
}
