package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.RestServer
import graft.eval.Evaluate
import graft.functions.HashEmbedder
import graft.model.{Doc, Triplet}
import graft.operators.GraphBuilder
import graft.rag.{GraphRag, RagConfig}
import graft.sources.GraphStore
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one run of one workload against one generated
  * corpus. Both workloads start with the same first timed op, a bulk
  * `GraphRag.addDocumentsDf` of the corpus, and then:
  *
  *   serve   one client calling `GraphRag.retrieve` in-process (closed
  *           loop, after [[WarmRetrieves]] untimed questions), then four HTTP
  *           clients on `POST /graphs/{g}/query` against a `RestServer`
  *           built with the same `RagConfig` and embedder, asking the
  *           questions the in-process client answered;
  *   ingest  single-batch `graftDocumentsDf` calls (the body
  *           `StreamingOps.foreachBatchGraft` runs per micro-batch), each
  *           followed by one `retrieve` whose gold answer is the passage
  *           just grafted; the first cycle pays the JIT.
  *
  * The timed phases share `--seconds` by the `--shares` weights, each running
  * at least a minimum of ops ([[MinRetrieves]], [[MinGrafts]]). The harness only
  * observes: it writes every answer, the final `GraphStore.stats`, the
  * latency samples and the end-to-end metrics to `--out` as JSON, and
  * perfbench/run.py checks them against the generator's gold. With
  * `--trace 1` it adds the per-layer record and writes the span tree to
  * `--spans`.
  */
object Harness {

  private val mapper = new ObjectMapper()
  private val Graph = "bench"
  /** Fewest ops the retrieve and graft phases run, however short their
    * share (the REST phase sends at least one request per client). */
  private val MinRetrieves = 3
  /** Questions the in-process client asks before it starts timing. A
    * session's first question pays the JIT and code generation, about
    * twice a warm one, and the second is still some 20% slower than the
    * ones after it; timed, they would be two of only a few samples. Their
    * answers are checked like the timed ones. */
  private val WarmRetrieves = 2
  private val MinGrafts = 1

  final case class Args(workload: String, input: String, out: String, work: String,
      spans: Option[String], seconds: Double, trace: Boolean, cpus: Int, dim: Int,
      shares: Seq[Double])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("out"), m("work"), m.get("spans"),
      m("seconds").toDouble, m("trace") == "1", m("cpus").toInt, m("dim").toInt,
      m("shares").split(",").map(_.toDouble).toSeq)
  }

  /** Latency samples of one op kind; a failed op counts as missing every
    * percentile (it sorts above every successful sample). */
  final class Samples {
    private val ms = mutable.ArrayBuffer.empty[Double]
    def add(v: Double, ok: Boolean): Unit = synchronized {
      ms += (if (ok) v else Double.PositiveInfinity)
    }
    def n: Int = synchronized(ms.size)
    def p50: Double = synchronized(if (ms.isEmpty) Double.PositiveInfinity else median(ms.toSeq))
    def toJson(a: ArrayNode): Unit = synchronized(ms.foreach(a.add))
  }

  def main(argv: Array[String]): Unit = {
    val launchMs = ProcessHandle.current().info().startInstant().map[Long](_.toEpochMilli)
      .orElse(System.currentTimeMillis())
    val a = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (a.trace) Some(new Trace) else None
    trace.foreach(_.install(spark))
    try new Run(spark, a, trace).apply(launchMs)
    finally spark.stop()
  }

  private def docsOf(arr: JsonNode): Seq[Doc] = arr.elements().asScala.map { d =>
    Doc(d.get("id").asText(), d.get("text").asText(),
      d.get("triplets").elements().asScala.map(t =>
        Triplet(t.get(0).asText(), t.get(1).asText(), t.get(2).asText())).toSeq)
  }.toSeq

  private[perfbench] def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }

  /** Driver heap in use after full collections, once Spark's listener bus
    * has delivered every event (its status store is live data too): the
    * least of three readings, each after `System.gc()`. */
  private def heapAfterGc(spark: SparkSession): Double = {
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Parquet files under a graph directory: path → bytes. */
  private def parquetFiles(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => p.toString -> Files.size(p)).toMap

  private final class Run(spark: SparkSession, a: Args, trace: Option[Trace]) {
    import spark.implicits._

    private val input = mapper.readTree(Files.readAllBytes(Paths.get(a.input)))
    private val docs = docsOf(input.get("docs"))
    private val questions = input.get("questions").elements().asScala.map(_.asText()).toSeq
    private val grafts = input.get("grafts").elements().asScala.map(g =>
      (docsOf(g.get("docs")), g.get("question").asText())).toSeq

    private val cfg = RagConfig(finalTopK = 5)
    // the eval harness's stopword list: without it a shared function-word
    // bucket lets hash collisions outrank the gold passage (Evaluate's note)
    private val embedder = HashEmbedder(dim = a.dim, stopwords = Evaluate.evalStopwords)
    private val storeBase = s"${a.work}/store"
    private val store = new GraphStore(spark, storeBase)
    private def docsDf(ds: Seq[Doc]): DataFrame = spark.createDataset(ds).toDF()
    private val engine = new GraphRag(spark, store, Graph, cfg, embedder)

    private val out = mapper.createObjectNode()
    private val ops = mutable.ArrayBuffer.empty[Op]
    private val phases = mutable.ArrayBuffer.empty[Phase]
    private val errors = mutable.ArrayBuffer.empty[String]
    private val opIds = new AtomicInteger(0)
    private val budgetNs = a.shares.map(s => (s / a.shares.sum * a.seconds * 1e9).toLong)

    // shared by both workloads' records
    private val retrieveLat = new Samples // in-process GraphRag.retrieve
    private val warmLat = new Samples // serve: the untimed first questions
    private val requestLat = new Samples // serve: REST query; ingest: graft
    private var requestsPerS = 0.0
    private val subgraphRelations = mutable.ArrayBuffer.empty[Double]
    private var evictions = 0
    private var cachedTables = 0
    private var cachedMb = 0.0
    private val rewrites = mutable.ArrayBuffer.empty[(Double, Double)]

    private def error(msg: String): Unit = errors.synchronized(errors += msg)

    /** Time `body` as one op on the calling thread, under its own job group. */
    private def timed[T](kind: String, phase: String)(body: => T): (Option[T], Double) = {
      val id = opIds.incrementAndGet()
      val group = s"op-$id"
      spark.sparkContext.setJobGroup(group, kind)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val r = try Some(body) catch { case e: Exception => error(s"$kind: $e"); None }
      val wall = (System.nanoTime() - n0) / 1e6
      spark.sparkContext.clearJobGroup()
      ops.synchronized(ops += Op(id, kind, phase, group, t0, System.currentTimeMillis(),
        r.isDefined))
      (r, wall)
    }

    private def phase[T](name: String)(body: => T): T = {
      val t0 = System.currentTimeMillis()
      try body finally phases += Phase(name, t0, System.currentTimeMillis())
    }

    /** The store's table cache after the read phase. */
    private def noteCache(): Unit = {
      cachedTables = store.cachedTableCount
      cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    }

    private def retrieve(q: String, kind: String, phase: String, lat: Samples) = {
      val (r, ms) = timed(kind, phase)(engine.retrieve(q))
      lat.add(ms, r.isDefined)
      r.foreach { res =>
        subgraphRelations += res.expansionHistory.lastOption
          .map(_.relationCount.toDouble).getOrElse(0.0)
        if (res.evictionApplied) evictions += 1
      }
      r
    }

    def apply(launchMs: Long): Unit = {
      val setupS = (System.currentTimeMillis() - launchMs) / 1e3
      val (_, indexMs) = phase("index")(timed("index", "index")(
        engine.addDocumentsDf(docsDf(docs))))
      val primary = a.workload match {
        case "serve" => serve(); "retrieve"
        case "ingest" => ingest(); "graft"
      }
      val heapMb = heapAfterGc(spark)

      timed("stats", "check")(engine.stats())._1.foreach { s =>
        val so = out.putObject("stats"); s.foreach { case (k, v) => so.put(k, v) }
      }
      out.put("attempted", 1 + warmLat.n + retrieveLat.n + requestLat.n)
      val el = out.putArray("errors"); errors.foreach(el.add)
      val mo = out.putObject("metrics")
      Seq(
        ("setup_s", setupS, "s"),
        ("heap_mb", heapMb, "MB"),
        ("index_docs_per_s", docs.size / (indexMs / 1e3), "1/s"),
        ("retrieve_p50_ms", retrieveLat.p50, "ms"),
        ("request_p50_ms", requestLat.p50, "ms"),
        ("requests_per_s", requestsPerS, "1/s")).foreach { case (n, v, u) =>
        mo.putObject(n).put("value", if (v.isInfinite || v.isNaN) Double.MaxValue else v)
          .put("unit", u)
      }
      val so = out.putObject("samples_ms")
      retrieveLat.toJson(so.putArray("retrieve"))
      warmLat.toJson(so.putArray("retrieve_warmup"))
      requestLat.toJson(so.putArray("request"))
      trace.foreach(layers(_, primary))
      Files.write(Paths.get(a.out), mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(out))
    }

    private def serve(): Unit = {
      val answers = mutable.LinkedHashMap.empty[String, Seq[String]]
      phase("retrieve") {
        var i = 0
        def ask(kind: String, lat: Samples): Unit = {
          val q = questions(i % questions.size)
          retrieve(q, kind, "retrieve", lat).foreach(r =>
            answers.getOrElseUpdate(q, r.passages.map(_.id)))
          i += 1
        }
        while (i < WarmRetrieves) ask("retrieve_warmup", warmLat)
        val deadline = System.nanoTime() + budgetNs(0)
        while (i < WarmRetrieves + MinRetrieves || System.nanoTime() < deadline)
          ask("retrieve", retrieveLat)
      }
      noteCache()
      val ra = out.putArray("retrieve_answers")
      answers.foreach { case (q, ids) =>
        val ia = ra.addObject().put("question", q).putArray("ids"); ids.foreach(ia.add)
      }

      // Four clients ask the questions the in-process client answered, so
      // every REST answer has an in-process answer to be compared with.
      val restQs = if (answers.nonEmpty) answers.keys.toSeq else questions
      val restAnswers = out.putArray("rest_answers")
      val server = new RestServer(spark, storeBase, cfg, 0, embedder)
      server.start()
      try {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        val url = URI.create(s"http://127.0.0.1:${server.boundPort}/graphs/$Graph/query")
        def ask(q: String): (Int, Seq[String]) = {
          val body = mapper.writeValueAsString(mapper.createObjectNode().put("question", q))
          val resp = http.send(HttpRequest.newBuilder(url)
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
            HttpResponse.BodyHandlers.ofString())
          val ids = if (resp.statusCode() != 200) Seq.empty
            else mapper.readTree(resp.body()).get("passages").elements().asScala
              .map(_.get("id").asText()).toSeq
          (resp.statusCode(), ids)
        }
        val wallMs = phase("rest") {
          val next = new AtomicInteger(0)
          val t0 = System.nanoTime()
          val deadline = t0 + budgetNs(1)
          val clients = (1 to 4).map { _ =>
            new Thread(() => {
              var first = true
              while (first || System.nanoTime() < deadline) {
                first = false
                val q = restQs(next.getAndIncrement() % restQs.size)
                val n0 = System.nanoTime()
                val (code, ids) = try ask(q) catch {
                  case e: Exception => error(s"rest: $e"); (-1, Seq.empty)
                }
                val ms = (System.nanoTime() - n0) / 1e6
                if (code != 200 && code != -1) error(s"rest: HTTP $code for $q")
                requestLat.add(ms, code == 200)
                restAnswers.synchronized {
                  val ia = restAnswers.addObject().put("question", q).put("status", code)
                    .putArray("ids")
                  ids.foreach(ia.add)
                }
              }
            })
          }
          clients.foreach(_.start())
          clients.foreach(_.join())
          (System.nanoTime() - t0) / 1e6
        }
        val ok = restAnswers.elements().asScala.count(_.get("status").asInt() == 200)
        requestsPerS = ok / (wallMs / 1e3)
      } finally server.stop()
    }

    private def ingest(): Unit = {
      val rawAnswers = out.putArray("read_after_write_answers")
      var applied = 0
      val wallMs = phase("graft") {
        val t0 = System.nanoTime()
        val deadline = t0 + budgetNs(0)
        while (applied < grafts.size && (applied < MinGrafts || System.nanoTime() < deadline)) {
          val (batch, q) = grafts(applied)
          val before = parquetFiles(Paths.get(storeBase, Graph))
          val (ok, ms) = timed("graft", "graft")(engine.graftDocumentsDf(docsDf(batch)))
          requestLat.add(ms, ok.isDefined)
          val fresh = parquetFiles(Paths.get(storeBase, Graph)).filterNot {
            case (p, _) => before.contains(p)
          }
          rewrites += ((fresh.size.toDouble, fresh.values.sum.toDouble))
          applied += 1
          val r = retrieve(q, "read_after_write", "graft", retrieveLat)
          val ia = rawAnswers.addObject().put("question", q).put("ok", r.isDefined)
            .putArray("ids")
          r.foreach(_.passages.foreach(p => ia.add(p.id)))
        }
        (System.nanoTime() - t0) / 1e6
      }
      requestsPerS = applied / (wallMs / 1e3)
      noteCache()
      out.put("grafts_applied", applied)
    }

    /** The per-layer record: per-op medians for each op kind, the record of
      * the workload's request phase, and timed calls into public functions. */
    private def layers(t: Trace, primary: String): Unit = {
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      val lay = out.putObject("layers")
      def put(o: ObjectNode, m: Map[String, Double]): Unit =
        m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      ops.groupBy(_.kind).foreach { case (kind, os) =>
        val recs = os.filter(_.ok).map(t.opRecord).toSeq
        if (recs.nonEmpty)
          put(lay.putObject(kind), recs.head.keys.map(k => k -> median(recs.map(_(k)))).toMap)
      }
      lay.put("primary_op", primary)
      phases.find(p => p.name == "rest" || p.name == "graft").foreach { p =>
        lay.put("request_phase_name", p.name)
        put(lay.putObject("request_phase"), t.phaseRecord(p))
      }
      // made after the measured phases so they cannot disturb them
      val corpus = docsDf(docs).select($"id", $"text").cache()
      corpus.count()
      val e0 = System.nanoTime()
      embedder.embedInto(corpus, "text", "embedding").write.format("noop").mode("overwrite").save()
      val embedMs = (System.nanoTime() - e0) / 1e6
      val tables = GraphBuilder.build(docsDf(docs), embedder)
      val s0 = System.nanoTime()
      store.save("save_probe", tables)
      val saveMs = (System.nanoTime() - s0) / 1e6
      put(lay.putObject("workload"), Map(
        "functions.embed_into_ms" -> embedMs,
        "sources.save_ms" -> saveMs,
        "sources.files_rewritten" -> median(rewrites.map(_._1).toSeq),
        "sources.bytes_rewritten" -> median(rewrites.map(_._2).toSeq),
        "sources.cached_tables" -> cachedTables.toDouble,
        "sources.cached_mb" -> cachedMb,
        "rag.subgraph_relations" -> median(subgraphRelations.toSeq),
        "rag.eviction_share" -> evictions.toDouble / math.max(1, subgraphRelations.size)))
      a.spans.foreach { p =>
        Files.write(Paths.get(p),
          mapper.writeValueAsBytes(toJava(t.spans(ops.toSeq, phases.toSeq))))
      }
    }
  }
}
