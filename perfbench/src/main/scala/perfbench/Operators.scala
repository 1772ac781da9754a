package perfbench

import graft.SparkEntry

/** `operators`: fixed passes over registry queries in three families,
  * through [[SparkEntry.queries]] on the fixed generated corpus, in a
  * fixed order: the corpus does not depend on the seed, so the oracle
  * fingerprints are computed once. A curation job is a fresh process, so the
  * first pass is timed cold, as such a job runs. Every query writes its
  * output; `perfbench/run.py` compares pass 0's with the stored DuckDB
  * oracle fingerprints.
  */
object Operators {

  val Families: Seq[(String, Seq[String])] = Seq(
    "lifecycle" -> Seq("q_bm25_stored", "q_bm25_delete", "q_phrase_append",
      "q_ivf_retrain", "q_pq_retrain", "q_ann_delete"),
    "miners" -> Seq("q_ngram_jaccard", "q_dedup_edit", "q_dedup_edit_against",
      "q_containment_pairs", "q_winnow_spans"),
    "iterative" -> Seq("q_pagerank", "q_dedup_clusters_inc", "q_label_prop",
      "q_quality_classifier"))
  val FamilyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
  val Names: Seq[String] = Families.flatMap(_._2)

  def run(ctx: Ctx, res: Result): Unit = {
    import ctx._
    val corpus = Gen.corpus(spark, cache)
    res.info("corpus") = corpus
    ctx.setupDone(res)

    // every pass writes each output; pass 0's are checked against the
    // oracle fingerprints, later passes must reproduce their row counts
    val rows = scala.collection.mutable.Map[String, Long]()
    val t0 = Clock.ms
    val passes = scala.collection.mutable.ArrayBuffer[Seq[Span]]()
    while (passes.isEmpty || Clock.ms - t0 < seconds * 1000) {
      val p = passes.size
      passes += Names.map { n =>
        val out = s"$work/out/p$p/$n"
        val s = Clock.ms
        try SparkEntry.queries(n)(spark, corpus).write.parquet(out)
        catch { case e: Exception => res.fail(1, s"$n: $e") }
        val span = Span(s"q-$p-$n", "", "query", n, s, Clock.ms)
        res.attempted += 1
        try {
          val c = spark.read.parquet(out).count()
          if (p == 0) rows(n) = c
          else if (!rows.get(n).contains(c)) res.fail(1, s"$n: pass $p wrote $c rows, pass 0 ${rows.get(n)}")
        } catch { case e: Exception => if (p == 0) () else res.fail(1, s"$n: $e") }
        span
      }
      if (p == 0) {
        // the oracle SQL of the learned queries exists only after they ran
        val oracle = SparkEntry.oracleSql.filter { case (k, _) => Names.contains(k) }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
          Json.obj(oracle.toSeq.sortBy(_._1)))
      }
    }
    def passSum(f: Span => Boolean) = Main.median(passes.toSeq.map(_.filter(f).map(_.dur).sum / 1000))
    val e2e = Seq("batch_s" -> passSum(_ => true)) ++
      Families.map { case (f, _) => s"${f}_s" -> passSum(s => FamilyOf(s.name) == f) }
    res.info("passes") = passes.size
    e2e.foreach { case (k, v) => res.put(k, v, "s") }
    val all = passes.flatten.toSeq
    res.put("ops_per_s", all.size / (all.map(_.dur).sum / 1000), "1/s")
    res.put("op_p90_ms", Main.pct(all.map(_.dur), 0.9), "ms")
    if (traced) {
      rec.drain()
      res.spans ++= all ++ Trace.leafSpans(rec, all)
      val byName = all.groupBy(_.name)
      Names.foreach { n =>
        val ss = byName(n)
        res.put(s"registry.$n.wall_s", Main.median(ss.map(_.dur / 1000)), "s")
        res.put(s"registry.$n.jobs", Main.median(ss.map(s => Trace.jobsIn(rec, s).size.toDouble)), "count")
        res.put(s"registry.$n.idle_ms", Main.median(ss.map(s => s.dur - Trace.jobMs(rec, s))), "ms")
      }
      Families.foreach { case (f, qs) =>
        val perPass = passes.toSeq.map(_.filter(s => qs.contains(s.name)))
        res.put(s"registry.$f.shuffle_bytes", Main.median(perPass.map(_.flatMap(s =>
          Trace.jobsIn(rec, s)).map(_.shuffleWrite.get).sum.toDouble)), "B")
        res.put(s"registry.$f.plan_ms", Main.median(perPass.map(_.flatMap(s =>
          Trace.sqlsIn(rec, s)).map(_.planMs).sum)), "ms")
      }
    }
  }
}
