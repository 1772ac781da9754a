package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Instant
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.model.IndexModel
import graft.operators._
import graft.store.StoreCatalog
import graft.streaming.PersistPipeline

/** `serve`: a closed loop of `cores` clients against two in-process
  * [[ApiServer]]s sharing one session: an Indexer-role server with a
  * [[RetrievalService.fromCatalog]] over BM25, positional, IVF and PQ
  * stores and the response memo wired, and a Resubmitter-role server over
  * the index and Avro records that set-up persists from seeded events
  * through the persist path ([[Ingest.drain]], whose layers a traced run
  * reports too). Every request body is unique, so the memo never hits;
  * every reply is checked.
  */
object Serve {

  /** One request with the check its reply must pass. */
  final case class Req(route: String, server: Int, method: String, path: String,
      body: String, check: JsonNode => Option[String])

  /** Route, layer, and requests per block of 40: 18 index, 18 retrieval
    * and 4 resubmit requests (45/45/10%).
    */
  val Routes: Seq[(String, String, Int)] = Seq(
    ("exact", "index", 6), ("all", "index", 4), ("range", "index", 4), ("query", "index", 4),
    ("search", "retrieval", 4), ("search_batch", "retrieval", 2), ("phrase", "retrieval", 4),
    ("ann", "retrieval", 4), ("pq", "retrieval", 2), ("hybrid", "retrieval", 2),
    ("resubmit_ids", "replay", 2), ("resubmit_range", "replay", 1), ("resubmit_query", "replay", 1))
  val LayerOf: Map[String, String] = Routes.map(r => r._1 -> r._2).toMap
  val Layers: Seq[String] = Seq("index", "retrieval", "replay")
  /** Broker batches persisted in set-up. */
  val EventFiles = 2

  private val Mapper = new ObjectMapper()

  def run(ctx: Ctx, res: Result): Unit = {
    import ctx._
    // --- set-up: the prepared stores over the fixed corpus published (their
    // build cost is the operators workload's lifecycle family), then seeded
    // events persisted and checked through the persist path
    val corpus = Gen.corpus(spark, cache)
    val docs = spark.read.parquet(s"$corpus/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$corpus/embeddings.parquet")
    val v1 = stores(spark, cache)
    val cat = s"$work/catalog"
    StoreCatalog.publish(spark, cat, "docs", v1)
    val files = Gen.writeEvents(spark, seed, s"$work/events", EventFiles)
    val wd = s"$work/persist"
    val drain = Ingest.drain(ctx, res, s"$work/events", files, wd)
    if (traced) Ingest.storeMetrics(res, wd, files)
    Main.log("stores built, events persisted")
    val index = spark.read.parquet(s"$wd/index").select(IndexModel.Columns.map(col): _*)
    val records = PersistPipeline.readRecords(spark, wd)
    val retrieval = RetrievalService.fromCatalog(spark, cat, bm25Names = Seq("docs"),
      phraseNames = Seq("docs"), annNames = Seq("docs"), pqNames = Map("docs" -> emb))
    val memo = new TwoQCache[(Int, String)](100)
    val service = QueryService(index)
    val indexer = new ApiServer(ApiFacade(Map("index" -> service)), ApiServer.Indexer,
      retrieval = Some(retrieval), retrievalMemo = Some(memo))
    val resubmitter = new ApiServer(
      ApiFacade(Map("index" -> service),
        resubmitters = Map("index" -> Resubmitter(service, records, broadcastIndex = true)),
        envTopic = Some("replay")),
      ApiServer.Resubmitter)
    indexer.start()
    resubmitter.start()
    val bases = Seq(indexer, resubmitter).map(s => s"http://127.0.0.1:${s.boundPort}")
    try {
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val vecs = emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      val gen = new RequestGen(seed, files, texts, vecs)
      // warm-up: one block from all clients (the first block after a cold
      // start runs slower than the next ones); checked like the rest
      val block = Routes.map(_._3).sum
      val warm = runLoop(bases, gen.stream(block), cores, 0, block, block)
      ctx.setupDone(res)

      val (untraced, done) =
        // at least 3 blocks: 120 requests leave 12 beyond the p90
        if (!traced) (Nil, runLoop(bases, gen.stream(6000), cores, seconds, 3 * block, block))
        else {
          // concurrency 1 over rounds holding every route once, with the job
          // listeners off and on in off-on-on-off order (so warm-up drift
          // cancels): the traced rounds give the per-layer metrics (each
          // Spark job belongs to one request), the untraced ones the
          // tracing overhead
          val off, on = mutable.ArrayBuffer[Done]()
          def round(traced: Boolean): Unit = {
            if (traced) rec.attach() else rec.detach()
            (if (traced) on else off) ++= runLoop(bases, gen.rounds(1), 1, 0, Routes.size, Routes.size)
          }
          val t0 = Clock.ms
          while (on.size < 2 * Routes.size || Clock.ms - t0 < seconds * 1000)
            Seq(false, true, true, false).foreach(round)
          (off.toSeq, on.toSeq)
        }
      val clients = if (traced) 1 else cores
      (warm ++ untraced ++ done).foreach { d =>
        res.attempted += 1
        d.error.foreach(e => res.fail(1, s"${d.req.route}: $e"))
      }
      val total = (done.map(_.end).max - done.map(_.start).min) / 1000
      def lat(layer: String) = done.filter(d => LayerOf(d.req.route) == layer).map(_.dur)
      val e2e = Seq(
        "serve_rps" -> (done.size / total, "1/s"),
        "lookup_p50_ms" -> (Main.pct(lat("index"), 0.5), "ms"),
        "lookup_p90_ms" -> (Main.pct(lat("index"), 0.9), "ms"),
        "retrieval_p50_ms" -> (Main.pct(lat("retrieval"), 0.5), "ms"),
        "retrieval_p90_ms" -> (Main.pct(lat("retrieval"), 0.9), "ms"),
        "resubmit_p50_ms" -> (Main.pct(lat("replay"), 0.5), "ms"),
        "resubmit_p90_ms" -> (Main.pct(lat("replay"), 0.9), "ms"))
      // request rate per block of the stream, median over the run's blocks
      val blocks = done.groupBy(_.i / block).values.toSeq.map { b =>
        b.size / ((b.map(_.end).max - b.map(_.start).min) / 1000) }
      res.info("blocks") = blocks
      res.info("samples") = Layers.map(l => l -> lat(l).size).toMap
      res.info("clients") = clients
      e2e.foreach { case (k, (v, u)) => res.put(k, v, u) }
      res.put("ops_per_s", Main.median(blocks), "1/s")
      res.put("op_p90_ms", Main.pct(done.map(_.dur), 0.9), "ms")
      if (traced) {
        rec.drain()
        val spans = done.zipWithIndex.map { case (d, i) =>
          Span(s"req-$i", "", "request", d.req.route, d.start, d.end) }
        res.spans ++= spans ++ Trace.leafSpans(rec, spans)
        val byRoute = done.zip(spans).groupBy(_._1.req.route)
        Routes.foreach { case (route, layer, _) =>
          val rs = byRoute.getOrElse(route, Nil)
          val p = s"$layer.$route"
          res.put(s"$p.http_ms", Main.median(rs.map(_._1.dur)), "ms")
          res.put(s"$p.jobs", Main.median(rs.map(r => Trace.jobsIn(rec, r._2).size.toDouble)), "count")
          res.put(s"$p.job_ms", Main.median(rs.map(r => Trace.jobMs(rec, r._2))), "ms")
          res.put(s"$p.bytes_read", Main.median(rs.map(r =>
            Trace.jobsIn(rec, r._2).map(_.inputBytes.get).sum.toDouble)), "B")
        }
        res.info("trace_overhead_http_p50_ms") = Layers.map { l =>
          def p50(ds: Seq[Done]) = Main.median(ds.filter(d => LayerOf(d.req.route) == l).map(_.dur))
          l -> Map("untraced" -> p50(untraced), "traced" -> p50(done))
        }.toMap
        Layers.foreach { layer =>
          val rs = done.zip(spans).filter(r => LayerOf(r._1.req.route) == layer)
          res.put(s"$layer.plan_ms", Main.median(rs.map(r =>
            Trace.sqlsIn(rec, r._2).map(_.planMs).sum)), "ms")
        }
      }
      Ingest.report(ctx, res, Seq(drain), files)
      val lookups = memo.hitCount + memo.missCount
      val hit = if (lookups == 0) 0.0 else memo.hitCount.toDouble / lookups
      res.info("memo_lookups") = lookups
      if (traced) res.put("api.memo_hit_ratio", hit, "ratio")
      if (memo.hitCount > 0) res.fail(memo.hitCount, s"memo hit ${memo.hitCount} times on unique bodies")
    } finally {
      indexer.stop(0)
      resubmitter.stop(0)
    }
  }

  /** The BM25, positional, IVF and PQ stores over the fixed corpus, built
    * by the `prepare` step only (see [[Gen.cached]]).
    */
  def stores(spark: SparkSession, cache: String, prepare: Boolean = false): String = {
    val corpus = Gen.corpus(spark, cache, prepare)
    Gen.cached(s"$cache/stores-docs-v1", prepare) { dir =>
      val docs = spark.read.parquet(s"$corpus/documents.parquet").select("doc_id", "text")
      val emb = spark.read.parquet(s"$corpus/embeddings.parquet")
      TextAnalysis.saveBm25Index(spark, dir, docs)
      TextAnalysis.saveBm25Positional(spark, dir, docs)
      val cents = Similarity.kmeansCentroids(emb, numCells = 8, iters = 2, salt = "serve")
      Similarity.saveIvfIndex(spark, dir, cents)
      Similarity.saveIvfAssigned(spark, dir, Similarity.assignIvfCells(emb, cents), cents)
      val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16, iters = 2, salt = "serve")
      Similarity.savePqBooks(spark, dir, books)
      Similarity.savePqCodes(spark, dir, Similarity.encodePqCodes(emb, books, cellBits = 4),
        books, cellBits = 4)
    }
  }

  final case class Done(i: Int, req: Req, start: Double, end: Double, error: Option[String]) {
    def dur: Double = end - start
  }

  /** Send one request and check its reply; returns an error or None. */
  def send(client: HttpClient, bases: Seq[String], q: Req): Option[String] =
    try {
      val b = HttpRequest.newBuilder(URI.create(bases(q.server) + q.path))
        .header("Content-Type", "application/json")
        .timeout(java.time.Duration.ofSeconds(60))
      val r = client.send(
        if (q.method == "GET") b.GET().build()
        else b.POST(HttpRequest.BodyPublishers.ofString(q.body)).build(),
        HttpResponse.BodyHandlers.ofString())
      if (r.statusCode() != 200) Some(s"status ${r.statusCode()} ${r.body().take(200)}")
      else q.check(Mapper.readTree(r.body()))
    } catch { case e: Exception => Some(e.toString) }

  /** Closed loop: each client sends the next request of the shared
    * sequence once its previous reply arrived, until `seconds` pass and at
    * least `minDone` requests completed; then the current block of `block`
    * requests is finished, so a run holds whole blocks.
    */
  def runLoop(bases: Seq[String], stream: IndexedSeq[Req], clients: Int,
      seconds: Double, minDone: Int, block: Int): Seq[Done] = {
    val next = new AtomicInteger(0)
    val limit = new AtomicInteger(stream.size)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val t0 = Clock.ms
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var i = next.getAndIncrement()
        while (i < limit.get) {
          if (Clock.ms - t0 >= seconds * 1000 && i >= minDone)
            limit.accumulateAndGet((i + block - 1) / block * block, math.min)
          if (i < limit.get) {
            val q = stream(i)
            val s = Clock.ms
            val err = send(client, bases, q)
            out.add(Done(i, q, s, Clock.ms, err))
          }
          i = next.getAndIncrement()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sortBy(_.start)
  }

  // ---------------------------------------------------------------- checks

  def rows(n: JsonNode): Seq[JsonNode] = {
    val d = n.get("data")
    if (d == null) Nil else (0 until d.size()).map(d.get)
  }

  def rowCount(expect: Long)(n: JsonNode): Option[String] = {
    val got = rows(n).size
    if (got == expect) None else Some(s"rows $got != $expect")
  }

  /** A ranked page per query: ranks 1..n with n in `[lo, hi]`, and scores
    * that never improve down the ranking.
    */
  def ranked(lo: Int, hi: Int, queries: Int = 1)(n: JsonNode): Option[String] = {
    val rs = rows(n)
    if (rs.isEmpty) return Some("empty page")
    val f = rs.head
    def has(c: String) = f.has(c)
    val rankCol = Seq("rank", "rnk", "fused_rank").find(has)
    val scoreCol = Seq("score", "cosine", "rrf_ppm").find(has)
    val groups = if (has("query_id")) rs.groupBy(_.get("query_id").asText()) else Map("" -> rs)
    if (groups.size != queries) return Some(s"${groups.size} queries != $queries")
    groups.values.iterator.map { g =>
      // without a rank column the page order is the ranking
      val sorted = rankCol.fold(g)(c => g.sortBy(_.get(c).asLong()))
      val ranks = rankCol.fold[Seq[Long]](1L to g.size.toLong)(c => sorted.map(_.get(c).asLong()))
      val scores = scoreCol.toSeq.flatMap(c => sorted.map(_.get(c).asDouble()))
      if (g.size < lo || g.size > hi) Some(s"page of ${g.size} not in [$lo, $hi]")
      else if (ranks != (1L to g.size.toLong)) Some(s"ranks $ranks")
      else if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a }) Some(s"scores increase $scores")
      else None
    }.collectFirst { case Some(e) => e }
  }
}

/** The seeded request stream: terms from the documents vocabulary, ids
  * and intervals from the generated index, vectors from stored
  * embeddings plus a seeded perturbation. Bodies never repeat.
  */
final class RequestGen(seed: Long, files: Seq[Gen.EventFile], texts: Map[Long, String],
    vecs: Map[Long, Array[Double]]) {
  import Serve._
  private val r = new SplittableRandom(seed * 7919L + 17)
  private val seen = mutable.HashSet[String]()
  private val msgs = files.flatMap(_.ids).toArray
  private val byBroker = msgs.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._3).sorted }
  private val brokers = byBroker.keys.toSeq.sorted
  private val tMin = msgs.map(_._3).min
  private val tMax = msgs.map(_._3).max
  /** Minutes of `broker` traffic that hold about 30 messages, so a
    * resubmit slice costs about the same whichever broker it names.
    */
  private def minutesFor(broker: String): Double =
    30.0 * (tMax - tMin) / 60000.0 / byBroker(broker).length
  // ann and pq alternate between the id and the vector mode
  private var byId = Map("ann" -> false, "pq" -> false)
  private def idMode(route: String): Boolean = { byId += route -> !byId(route); byId(route) }
  private val words = Gen.Vocab.filterNot(w => w == "a" || w == "the")
  private val docIds = texts.keys.toArray.sorted
  private val vecIds = vecs.keys.toArray.sorted
  private val docWords = texts.map { case (k, t) => k -> t.split(" ") }

  private def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def pickA[T](xs: Array[T]): T = xs(r.nextInt(xs.length))
  private def q(s: String) = "\"" + s + "\""
  private def iso(ms: Long) = Instant.ofEpochMilli(ms).toString
  private def sql(ms: Long) = iso(ms).replace("T", " ").stripSuffix("Z")
  private def uid(m: (String, Long, Long)) = s"${m._1}_${m._2}"

  /** Messages of `broker` with `lo <= ts < hi` (event-time ms). */
  private def count(broker: String, lo: Long, hi: Long): Long =
    byBroker(broker).count(t => t >= lo && t < hi).toLong

  /** A whole-second window of `minutes` inside the data. */
  private def window(minutes: Double): (Long, Long) = {
    val len = (minutes * 60000L).toLong / 1000 * 1000
    val lo = (tMin + (r.nextDouble() * (tMax - tMin - len)).toLong) / 1000 * 1000
    (lo, lo + len)
  }

  private def vector(): String = {
    val v = vecs(pickA(vecIds))
    v.map(x => x + (r.nextDouble() - 0.5) * 0.02).mkString("[", ",", "]")
  }

  private def terms(n: Int): Seq[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) out += pickA(words)
    out.toSeq
  }

  /** Docs whose word sequence holds `a b` adjacently. */
  private def phraseDocs(a: String, b: String): Int =
    docWords.count { case (_, w) => w.indices.dropRight(1).exists(i => w(i) == a && w(i + 1) == b) }

  /** A fresh request of `route`; redrawn until its body is new. */
  def make(route: String): Req = {
    var q: Req = null
    while (q == null || !seen.add(s"${q.path} ${q.body}")) q = draw(route)
    q
  }

  private def draw(route: String): Req = {
    val k = 10
    route match {
      case "exact" =>
        val m = pickA(msgs)
        Req(route, 0, "GET", s"/exact/index/${uid(m)}", "", n => {
          val rs = rows(n)
          if (rs.size == 1 && rs.head.get("unique_id").asText() == uid(m)) None
          else Some(s"exact ${uid(m)} returned ${rs.size} rows")
        })
      case "all" =>
        val ids = Seq.fill(4)(uid(pickA(msgs))).distinct
        Req(route, 0, "POST", "/all/index", s"""{"ids":[${ids.map(q).mkString(",")}]}""",
          rowCount(ids.size.toLong))
      case "range" =>
        val b = pick(brokers)
        val (lo, hi) = window(180)
        val limit = 20
        Req(route, 0, "GET", s"/range/index/$b?from=${iso(lo)}&to=${iso(hi)}&limit=$limit", "",
          rowCount(math.min(limit.toLong, count(b, lo, hi))))
      case "query" =>
        val b = pick(brokers)
        val (lo, hi) = window(180)
        val limit = 20
        // ingestion_time = publish_time + 1 s
        Req(route, 0, "POST", s"/query/index?limit=$limit",
          s"""{"filters":[{"broker_id":${q(b)},"publish_time":{"$$gte":${q(sql(lo))}},""" +
            s""""ingestion_time":{"$$lt":${q(sql(hi + 1000))}}}]}""",
          rowCount(math.min(limit.toLong, count(b, lo, hi))))
      case "search" =>
        val ts = terms(2)
        Req(route, 0, "POST", "/search/docs",
          s"""{"terms":[${ts.map(q).mkString(",")}],"k":$k}""", ranked(k, k))
      case "search_batch" =>
        val nq = 2
        val qs = (1 to nq).map(i =>
          s"""{"query_id":$i,"terms":[${terms(2).map(q).mkString(",")}]}""")
        Req(route, 0, "POST", "/search/docs",
          s"""{"queries":[${qs.mkString(",")}],"k":$k}""", ranked(k, k, nq))
      case "phrase" =>
        // two adjacent words of a stored document, neither of them "a" or
        // "the", so at least that document holds the phrase
        val pairs = Iterator.continually(docWords(pickA(docIds))).map { w =>
          w.indices.dropRight(1).map(i => (w(i), w(i + 1)))
            .filterNot { case (x, y) => Set(x, y).exists(t => t == "a" || t == "the") }
        }.find(_.nonEmpty).get
        val (a, b) = pick(pairs)
        val n = math.min(k, phraseDocs(a, b))
        Req(route, 0, "POST", "/phrase/docs",
          s"""{"phrase":[${q(a)},${q(b)}],"k":$k}""", ranked(n, n))
      case "ann" =>
        val body =
          if (idMode(route)) s"""{"query_ids":[${pickA(vecIds)}],"k":$k,"nprobe":2}"""
          else s"""{"vectors":[${vector()}],"k":$k,"nprobe":2}"""
        // candidates come from the probed cells only, which may hold < k
        Req(route, 0, "POST", "/ann/docs", body, ranked(1, k))
      case "pq" =>
        val body =
          if (idMode(route)) s"""{"query_ids":[${pickA(vecIds)}],"k":$k,"rerank":32}"""
          else s"""{"vectors":[${vector()}],"k":$k,"rerank":32}"""
        // candidates come from the query's SRP cell only, which may hold < k
        Req(route, 0, "POST", "/pq/docs", body, ranked(1, k))
      case "hybrid" =>
        Req(route, 0, "POST", "/hybrid/docs",
          s"""{"terms":[${terms(2).map(q).mkString(",")}],"query_id":${pickA(vecIds)},"k":$k}""",
          ranked(1, 2 * k))
      case "resubmit_ids" =>
        val ids = Seq.fill(3)(uid(pickA(msgs))).distinct
        Req(route, 1, "POST", "/resubmit/index", s"""{"ids":[${ids.map(q).mkString(",")}]}""",
          rowCount(ids.size.toLong))
      case "resubmit_range" =>
        val b = pick(brokers)
        val (lo, hi) = window(minutesFor(b))
        Req(route, 1, "POST", "/range/index",
          s"""{"broker_id":${q(b)},"lb":${q(iso(lo))},"ub":${q(iso(hi))}}""",
          rowCount(count(b, lo, hi)))
      case "resubmit_query" =>
        val b = pick(brokers)
        val (lo, hi) = window(minutesFor(b))
        Req(route, 1, "POST", "/query/index",
          s"""{"filters":[{"broker_id":${q(b)},"publish_time":{"$$gte":${q(sql(lo))}},""" +
            s""""ingestion_time":{"$$lt":${q(sql(hi + 1000))}}}]}""",
          rowCount(count(b, lo, hi)))
    }
  }

  /** `n` rounds of one fresh request per route, in a seeded order. */
  def rounds(n: Int): IndexedSeq[Req] =
    (0 until n).flatMap(_ => shuffled(Routes.map(_._1)).map(make))

  /** A seeded Fisher-Yates shuffle. */
  private def shuffled(xs: Seq[String]): Seq[String] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  /** `n` requests in blocks of 40 holding each route its count in
    * [[Serve.Routes]], in a seeded order, so every run sees the same mix.
    */
  def stream(n: Int): IndexedSeq[Req] =
    Iterator.continually(shuffled(Routes.flatMap { case (route, _, c) => Seq.fill(c)(route) }))
      .flatten.take(n).map(make).toIndexedSeq
}
