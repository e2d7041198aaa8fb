package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftSession, SparkEntry}
import graft.server.HttpFacade
import graft.sources.Sources

/** One client operation as the benchmark saw it. `phase` places it in the
  * window: see [[Phase]]. */
final case class OpResult(id: String, key: String, startMs: Double, endMs: Double,
    status: Int, error: String, bytes: Long, sha: String, phase: String,
    buildEndMs: Option[Double] = None) {
  def traced: Boolean = phase == Phase.Traced
}

/** Where an operation ran in the window. A traced run has three thirds:
  * untraced, traced, untraced. An operation that ran while the listeners
  * were switching on or off is `Overlap` and belongs to neither side. An
  * untraced run has only `Before`. */
object Phase {
  val Before = "before"
  val Traced = "traced"
  val After = "after"
  val Overlap = "overlap"
}

/** A request to send: `key` names it for the correctness check; `body` holds
  * the placeholder `__OPID__` where the request's query id goes. `guard` is
  * how it takes the client-side guard: `shared`, `exclusive` or not at all
  * (empty); see [[Run.http]]. */
final case class Req(key: String, route: String, body: String, guard: String = "")

/** The benchmark's JVM side. Reads a plan written by run.py, sets the session
  * up as an embedder does, runs the workload's closed loop for the timed
  * window and writes every operation, with its trace figures, to a JSON
  * file. All correctness checks and metrics are computed by run.py.
  *
  *   graft.perfbench.Main PLAN.json OUT.json
  */
object Main {
  private implicit val formats: Formats = DefaultFormats

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val plan = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val out = Paths.get(args(1))
    val workload = (plan \ "workload").extract[String]
    val dataDir = (plan \ "data_dir").extract[String]
    val cpus = (plan \ "cpus").extract[Int]
    val traceOn = (plan \ "trace").extract[Boolean]
    val seconds = (plan \ "seconds").extract[Double]
    launchMs = (plan \ "launch_epoch_ms").extract[Double]

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", (plan \ "work_dir").extract[String] + "/warehouse")
      .config("spark.local.dir", (plan \ "work_dir").extract[String] + "/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.configure(spark)
    mark("session")
    val trace = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(trace)
    spark.listenerManager.register(trace)

    val run = new Run(spark, trace, dataDir, plan, seconds, traceOn)
    val result = if (workload == "olap_suite") run.olap() else run.http()
    val json = JObject(
      "setup_ms" -> JDouble(run.firstOpMs - launchMs),
      "cpu_ms" -> JDouble(run.cpuMs),
      "heap_retained_mb" -> JDouble(run.heapRetainedMb()),
      "exhausted_clients" -> JInt(run.exhausted),
      "extra" -> run.extra,
      "bodies" -> JArray(run.bodies.asScala.toList.map { case ((k, h), b) =>
        JObject("key" -> JString(k), "sha" -> JString(h), "body" -> JString(b)) }),
      "ops" -> JArray(result.map(opJson(_, run.layers)).toList))
    Files.write(out, JsonMethods.compact(JsonMethods.render(json)).getBytes(StandardCharsets.UTF_8))
    run.close()
    spark.stop()
  }

  private def opJson(o: OpResult, layers: Map[String, Map[String, Double]]): JValue = JObject(
    "id" -> JString(o.id), "key" -> JString(o.key),
    "start_ms" -> JDouble(o.startMs), "end_ms" -> JDouble(o.endMs),
    "status" -> JInt(o.status), "error" -> JString(o.error), "bytes" -> JInt(o.bytes),
    "sha" -> JString(o.sha), "phase" -> JString(o.phase),
    "layers" -> layers.get(o.id).map(m => JObject(m.toList.map { case (k, v) => k -> JDouble(v) }))
      .getOrElse(JNull))

  /** Setup milestones, on stderr, in seconds since the JVM was launched. */
  private var launchMs = 0.0
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] $what%-12s ${(Clock.nowMs - launchMs) / 1000.0}%7.2f s")

  def sha(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    d.take(12).map("%02x".format(_)).mkString
  }
}

final class Run(spark: SparkSession, trace: Trace, dataDir: String, plan: JValue,
    seconds: Double, traceOn: Boolean) {
  private implicit val formats: Formats = DefaultFormats
  private val opSeq = new AtomicLong()
  /** Each distinct response once, by request key and digest. */
  val bodies = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private val bean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  var firstOpMs = 0.0
  var cpuMs = 0.0
  var layers: Map[String, Map[String, Double]] = Map.empty
  var extra: JObject = JObject()
  /** Clients that ran out of requests before the window closed. */
  var exhausted = 0
  private var closeFacade: () => Unit = () => ()

  def close(): Unit = closeFacade()

  def heapRetainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def nextId(): String = s"pb${opSeq.incrementAndGet()}"

  /** Map a job group to the operation that owns it. */
  private val FacadeGroup = "graft-query-(pb\\d+)-\\d+".r
  private val LocalGroup = "perfbench-(pb\\d+)".r
  private def opOf(group: String): Option[String] = group match {
    case FacadeGroup(id) => Some(id)
    case LocalGroup(id) => Some(id)
    case _ => None
  }

  /** Run `clients` closed loops until the window closes. `step` returns None
    * when its client has no request left; the client then stops.
    *
    * In a traced run a switch thread turns the listeners on for the middle
    * third of the window. After it, it waits until every operation started
    * in that third has ended and the listener bus has delivered its events,
    * then turns them off. The outer thirds are the tracing overhead's
    * baseline. `onTraceStart`/`onTraceEnd` run at the two switches. */
  private def closedLoop(clients: Int, onTraceStart: () => Unit = () => (),
      onTraceEnd: () => Unit = () => ())(step: (Int, String) => Option[OpResult]): Seq[OpResult] = {
    val cpu0 = bean.getProcessCpuTime
    firstOpMs = Clock.nowMs
    val deadline = firstOpMs + seconds * 1000.0
    val onMs = firstOpMs + seconds * 1000.0 / 3
    val offMs = firstOpMs + seconds * 2000.0 / 3
    var running = 0 // traced operations not yet ended, guarded by `lock`
    val lock = new Object
    def sleepUntil(t: Double): Unit = { val d = t - Clock.nowMs; if (d > 0) Thread.sleep(d.toLong + 1) }
    val switch = new Thread(() => if (traceOn) {
      sleepUntil(onMs)
      onTraceStart()
      trace.enabled = true
      sleepUntil(offMs)
      while (lock.synchronized(running) > 0) Thread.sleep(5)
      trace.drain()
      trace.enabled = false
      onTraceEnd()
    }, "perfbench-trace-switch")
    switch.start()
    val results = Array.fill(clients)(mutable.ArrayBuffer.empty[OpResult])
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var more = true
        while (more && Clock.nowMs < deadline) {
          val phase = lock.synchronized {
            if (Clock.nowMs >= offMs) { if (trace.enabled) Phase.Overlap else Phase.After }
            else if (trace.enabled) { running += 1; Phase.Traced }
            else Phase.Before
          }
          step(c, phase) match {
            case Some(o) =>
              results(c) += (if (phase == Phase.Before && trace.enabled) o.copy(phase = Phase.Overlap) else o)
            case None =>
              more = false
              lock.synchronized(exhausted += 1)
          }
          if (phase == Phase.Traced) lock.synchronized(running -= 1)
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    cpuMs = (bean.getProcessCpuTime - cpu0) / 1e6
    switch.join()
    val all = results.toSeq.flatten.sortBy(_.startMs)
    if (traceOn) layers = trace.layers(all, opOf)
    all
  }

  // ---------------------------------------------------------------- HTTP

  private def reqs(v: JValue): IndexedSeq[Req] = v match {
    case JArray(xs) => xs.map(x => Req((x \ "key").extract[String], (x \ "route").extract[String],
      (x \ "body").extract[String], (x \ "guard").extractOrElse[String](""))).toIndexedSeq
    case _ => IndexedSeq.empty
  }

  def http(): Seq[OpResult] = {
    Main.Tables.foreach { t =>
      val df = if (t == "events") Sources.events(spark, dataDir) else Sources.table(spark, dataDir, t)
      df.createOrReplaceTempView(t)
    }
    val dmlDir = s"${System.getProperty("java.io.tmpdir")}/graft_dml"
    val base: String => DataFrame = name =>
      if (Files.isDirectory(Paths.get(dmlDir, name)))
        spark.read.parquet(s"$dmlDir/$name").drop("__chunk")
      else if (name == "events") Sources.events(spark, dataDir)
      else Sources.table(spark, dataDir, name)
    Main.mark("views")
    val facade = HttpFacade.start(spark, trace.resolver(base))
    closeFacade = () => facade.stop()
    val root = s"http://127.0.0.1:${facade.port}"
    val clients = (plan \ "clients").children.map(reqs).toIndexedSeq
    val https = clients.indices.map(_ => HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())

    // The client-side guard keeps apart the requests that the engine would
    // otherwise answer wrongly when they overlap: an INSERT and the reads of
    // its datasource (a read that lands during the INSERT can cache a stale
    // answer), and a zoned SQL request and native queries (the native route
    // does not take the facade's session lock, so it would run in the SQL
    // request's time zone). A request's latency starts once it holds the
    // guard. The plan turns the guard off to show both defects.
    val guarded = (plan \ "guarded").extractOrElse[Boolean](true)
    val guard = new java.util.concurrent.locks.ReentrantReadWriteLock(true)
    def lockOf(r: Req): Option[java.util.concurrent.locks.Lock] =
      if (!guarded) None
      else r.guard match {
        case "shared" => Some(guard.readLock)
        case "exclusive" => Some(guard.writeLock)
        case _ => None
      }

    def send(c: Int, r: Req, phase: String): OpResult = {
      val id = nextId()
      val path = if (r.route == "sql") "/druid/v2/sql" else "/druid/v2"
      val req = HttpRequest.newBuilder(URI.create(root + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(r.body.replace("__OPID__", id))).build()
      val lock = lockOf(r)
      lock.foreach(_.lock())
      val t0 = Clock.nowMs
      val (status, body, err) =
        try {
          val resp = https(c).send(req, HttpResponse.BodyHandlers.ofString())
          (resp.statusCode(), resp.body(), "")
        } catch { case e: Throwable => (0, "", e.toString) }
        finally lock.foreach(_.unlock())
      val t1 = Clock.nowMs
      val digest = Main.sha(body)
      if (status == 200) bodies.putIfAbsent((r.key, digest), body)
      OpResult(id, r.key, t0, t1, status,
        if (status == 200) err else if (err.nonEmpty) err else body.take(500),
        body.getBytes(StandardCharsets.UTF_8).length.toLong, digest, phase)
    }
    def brief(o: OpResult): JValue = JObject("key" -> JString(o.key), "status" -> JInt(o.status),
      "sha" -> JString(o.sha), "error" -> JString(o.error))
    def cacheStats(): (Long, Long, Long, Long) = {
      def get(p: String) = JsonMethods.parse(https(0).send(HttpRequest.newBuilder(URI.create(root + p)).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body())
      val pc = get("/druid/admin/planCache"); val rc = get("/druid/admin/resultCache")
      ((pc \ "hits").extract[Long], (pc \ "misses").extract[Long],
        (rc \ "hits").extract[Long], (rc \ "misses").extract[Long])
    }

    // untimed: cache fills and warm-up, spread over the clients when the
    // plan allows it (the first ingest request must land before the rest)
    val warmReqs = reqs(plan \ "warm")
    val warm =
      if (!(plan \ "warm_parallel").extractOrElse[Boolean](false)) warmReqs.map(r => send(0, r, Phase.Before))
      else {
        val lanes = clients.indices.map(c => warmReqs.indices.filter(_ % clients.size == c))
        val done = Array.fill(warmReqs.size)(Option.empty[OpResult])
        val ts = lanes.zipWithIndex.map { case (lane, c) =>
          val t = new Thread(() => lane.foreach(i => done(i) = Some(send(c, warmReqs(i), Phase.Before))))
          t.start(); t
        }
        ts.foreach(_.join())
        done.toSeq.flatten
      }
    Main.mark("warm")
    // a client whose requests must stay distinct stops at the end of its
    // list instead of starting over, and run.py fails the run
    val wrap = (plan \ "wrap").extract[Boolean]
    val cursors = Array.fill(clients.size)(0)
    var stats0 = cacheStats()
    var stats1 = stats0
    val ops = closedLoop(clients.size, () => stats0 = cacheStats(), () => stats1 = cacheStats()) { (c, phase) =>
      val list = clients(c)
      if (!wrap && cursors(c) >= list.size) None
      else {
        val r = list(cursors(c) % list.size)
        cursors(c) += 1
        Some(send(c, r, phase))
      }
    }
    if (!traceOn) stats1 = cacheStats()
    // untimed: the final state check (ingest) and anything else run.py asks for
    val after = reqs(plan \ "after").map(r => send(0, r, Phase.Before))
    val dmlTarget = Paths.get(dmlDir)
    val files =
      if (Files.isDirectory(dmlTarget)) Files.walk(dmlTarget).iterator().asScala
        .count(p => p.toString.endsWith(".parquet")).toLong
      else 0L
    extra = JObject(
      "warm" -> JArray(warm.map(brief).toList),
      "after" -> JArray(after.map(brief).toList),
      "plan_cache_hits" -> JInt(stats1._1 - stats0._1), "plan_cache_misses" -> JInt(stats1._2 - stats0._2),
      "result_cache_hits" -> JInt(stats1._3 - stats0._3), "result_cache_misses" -> JInt(stats1._4 - stats0._4),
      "dml_files" -> JInt(files))
    ops
  }

  // ---------------------------------------------------------------- OLAP

  def olap(): Seq[OpResult] = {
    val resultsDir = (plan \ "results_dir").extract[String]
    val suite = SparkEntry.queries ++ SparkEntry.benchOnly
    // every stride-th entry of the name-sorted suite; the seed shuffles it
    val stride = (plan \ "suite_stride").extract[Int]
    val names = suite.keys.toList.sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }
    val order = new scala.util.Random((plan \ "order_seed").extract[Long]).shuffle(names)
    val sc = spark.sparkContext
    Files.write(Paths.get(resultsDir, "oracle_sql.json"), JsonMethods.compact(JsonMethods.render(
      JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) }))).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(resultsDir, "suite.json"), JsonMethods.compact(JsonMethods.render(
      JArray(names.map(JString(_))))).getBytes(StandardCharsets.UTF_8))
    // two untimed passes: the first does the one-time materializations and
    // first-touch codegen and writes each answer out for the oracle check;
    // the second lets the JIT settle (one pass left the window still warming)
    val warmErrors = mutable.Map[String, String]()
    def warm(name: String)(write: DataFrame => Unit): Unit =
      try write(suite(name)(spark, dataDir))
      catch { case e: Throwable => warmErrors(name) = e.toString.take(500) }
    order.foreach(n => warm(n)(_.write.mode("overwrite").parquet(s"$resultsDir/$n")))
    order.foreach(n => warm(n)(_.write.format("noop").mode("overwrite").save()))
    Main.mark("warm")
    var cursor = 0
    val ops = closedLoop(1) { (_, phase) =>
      val name = order(cursor % order.size)
      cursor += 1
      val id = nextId()
      sc.setJobGroup(s"perfbench-$id", name)
      val t0 = Clock.nowMs
      var built = t0
      val err = try {
        val df = suite(name)(spark, dataDir)
        built = Clock.nowMs
        df.write.format("noop").mode("overwrite").save()
        ""
      } catch { case e: Throwable => e.toString.take(500) }
      finally sc.clearJobGroup()
      val t1 = Clock.nowMs
      Some(OpResult(id, name, t0, t1, if (err.isEmpty) 200 else 500, err, 0L, "", phase, Some(built)))
    }
    extra = JObject("warm_errors" -> JObject(warmErrors.toList.map { case (k, v) => k -> JString(v) }))
    ops
  }
}
