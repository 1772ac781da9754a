package perfbench

import scala.jdk.CollectionConverters._

import graft.operators.MetricsRegistry
import graft.streaming.PersistPipeline

/** The persist path: seeded events files drained through
  * [[PersistPipeline.runStream]] (`Trigger.AvailableNow`, one file per
  * trigger) with a [[MetricsRegistry]] wired, as deployed, and every
  * drain's records, index, dead letters and registry checked against the
  * generator. `serve` persists its events this way in set-up and reports
  * these layers.
  */
object Ingest {

  private val Sinks = Seq(
    "records" -> "streaming.records_write_ms",
    "indexer_topic" -> "streaming.topic_write_ms",
    "index" -> "streaming.index_write_ms",
    "dead_letter" -> "streaming.dead_letter_write_ms")

  /** Drain throughput and per-batch times of `drains` (each over `files`),
    * and in a traced run the per-layer metrics and spans of their batches.
    */
  def report(ctx: Ctx, res: Result, drains: Seq[Span], files: Seq[Gen.EventFile]): Unit = {
    import ctx._
    rec.drain()
    val batches = rec.batches
    val trig = batches.map(_.durationMs.get("triggerExecution").toDouble)
    res.put("ingest_msgs_per_s", files.map(_.n).sum * drains.size / (drains.map(_.dur).sum / 1000), "msg/s")
    res.put("ingest_batch_p50_ms", Main.median(trig), "ms")
    res.put("ingest_batch_p90_ms", Main.pct(trig, 0.9), "ms")
    res.info("batches") = batches.size
    res.info("drains") = drains.size

    if (traced) {
      // micro-batch spans from the progress reports, nested in their drain
      val batchSpans = batches.map { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val e = s + p.durationMs.get("triggerExecution").toDouble
        val parent = Trace.owner(drains.toSeq, s).map(_.id).getOrElse("")
        Span(s"batch-${parent}-${p.batchId}", parent, "batch", s"batch ${p.batchId}", s, e)
      }
      res.spans ++= drains ++ batchSpans ++ Trace.leafSpans(rec, batchSpans ++ drains)
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
        Main.median(batches.map(f))
      res.put("sources.get_batch_ms", p50(p => dur(p, "getBatch") + dur(p, "latestOffset")), "ms")
      res.put("streaming.query_planning_ms", p50(dur(_, "queryPlanning")), "ms")
      res.put("streaming.commit_ms", p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms")
      res.put("streaming.add_batch_ms", p50(dur(_, "addBatch")), "ms")
      val perBatch = batches.zip(batchSpans).map { case (p, span) =>
        val sqls = Trace.sqlsIn(rec, span)
        val jobs = Trace.jobsIn(rec, span)
        val sinkMs = Sinks.map { case (dir, name) =>
          name -> sqls.filter(q => q.outputPath.contains(s"/$dir")).map(_.durMs).sum }
        (sinkMs,
          sqls.filter(_.funcName == "head").map(_.durMs).sum,
          jobs.size.toDouble, jobs.map(_.tasks.get).sum.toDouble,
          sqls.map(_.planMs).sum,
          math.max(dur(p, "addBatch") - Trace.jobMs(rec, span), 0.0))
      }
      Sinks.foreach { case (_, name) =>
        res.put(name, Main.median(perBatch.map(_._1.toMap.apply(name))), "ms") }
      res.put("streaming.registry_ms", Main.median(perBatch.map(_._2)), "ms")
      res.put("streaming.jobs_per_batch", Main.median(perBatch.map(_._3)), "count")
      res.put("streaming.tasks_per_batch", Main.median(perBatch.map(_._4)), "count")
      res.put("streaming.sql_plan_ms_per_batch", Main.median(perBatch.map(_._5)), "ms")
      res.put("streaming.idle_ms_per_batch", Main.median(perBatch.map(_._6)), "ms")
    }
  }

  /** One drain of `stage` into the work dir `wd`, then the checks. */
  def drain(ctx: Ctx, res: Result, stage: String, files: Seq[Gen.EventFile],
      wd: String): Span = {
    import ctx._
    val reg = new MetricsRegistry("persistor")
    val s = Clock.ms
    val ok =
      try { PersistPipeline.runStream(spark, s"$stage/f*", wd, maxFilesPerTrigger = 1,
        metrics = Some(reg)); true }
      catch { case e: Exception => res.fail(files.size, s"$wd: $e"); false }
    val span = Span(java.nio.file.Paths.get(wd).getFileName.toString, "", "drain", "runStream",
      s, Clock.ms)
    res.attempted += files.size
    if (ok) {
      val why = check(ctx, wd, files, reg)
      if (why.nonEmpty) res.fail(files.size, s"$wd: ${why.mkString("; ")}")
    }
    span
  }

  /** Every sink against the generator: records hold every message, the
    * index every valid one with matching per-broker counts and unique-id
    * fingerprint, the dead-letter topic every poison message, and the
    * registry counted both.
    */
  private def check(ctx: Ctx, wd: String, files: Seq[Gen.EventFile],
      reg: MetricsRegistry): Seq[String] = {
    import ctx.spark
    val msgs = files.map(_.n).sum
    val poison = files.map(_.poison).sum
    val perBroker = files.flatMap(_.perBroker).groupMapReduce(_._1)(_._2)(_ + _)
    val why = scala.collection.mutable.ArrayBuffer[String]()
    val records = spark.read.format(PersistPipeline.AvroFormat).load(s"$wd/records").count()
    if (records != msgs) why += s"records $records != $msgs"
    val index = spark.read.parquet(s"$wd/index")
    val got = index.groupBy("broker_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (got != perBroker) why += s"index per-broker $got != $perBroker"
    val ufp = index.select("unique_id").collect().map(r => Gen.fp(r.getString(0))).sum
    if (ufp != files.map(_.uniqueFp).sum) why += "index unique_id fingerprint differs"
    val dl = spark.read.parquet(s"$wd/dead_letter").count()
    if (dl != poison) why += s"dead letters $dl != $poison"
    val prom = reg.prometheusText
    def sample(n: String): Double = prom.linesIterator.find(_.startsWith(n + " "))
      .map(_.split(" ").last.toDouble).getOrElse(-1.0)
    if (sample("persistor_processed_messages_total") != msgs) why += "registry processed count"
    if (sample("persistor_failed_messages_total") != poison) why += "registry failed count"
    why.toSeq
  }

  def storeMetrics(res: Result, wd: String, files: Seq[Gen.EventFile]): Unit = {
    val out = Seq("records", "indexer_topic", "index", "dead_letter").flatMap { d =>
      val p = java.nio.file.Paths.get(wd, d)
      if (!java.nio.file.Files.exists(p)) Nil
      else java.nio.file.Files.walk(p).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
        .map(f => java.nio.file.Files.size(f)).toSeq
    }
    val msgs = files.map(_.n).sum.toDouble
    res.put("store.files_written_per_batch", out.size.toDouble / files.size, "count")
    res.put("store.bytes_written_per_msg", out.sum / msgs, "B")
    res.put("streaming.dead_letter_ratio", files.map(_.poison).sum / msgs, "ratio")
  }
}
