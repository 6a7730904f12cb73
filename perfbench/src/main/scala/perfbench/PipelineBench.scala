package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.SparkEntry
import graft.sinks.{Alerter, JdbcSink, MartSink, ParquetSink}
import graft.yougile._

/** Times the production pipeline — `Pipeline.run` with `HttpYouGileClient`,
  * `RateLimiter` and `JdbcSink`/`ParquetSink` — on a seeded universe served
  * by [[StubApi]] on loopback. One client fetches pages one at a time
  * (closed loop); Spark runs `local[2]`, leaving the other cores to the
  * client, the stub, the JIT and the collector.
  *
  * Usage: PipelineBench --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --bench <benchmark dir> --python <interpreter>
  * Writes the result object to `<work>/result.json`.
  */
object PipelineBench {

  final case class Workload(shape: Shape, jdbc: Boolean)

  val workloads: Map[String, Workload] = Map(
    // the production default: many small object pages, row-batched JDBC load
    "etl_hourly_jdbc" -> Workload(Shape(contracts = 2000, columns = 500, maxLots = 4,
      objectPageLimit = 100), jdbc = true),
    // few large pages, so decode, joins, dedup and a columnar write dominate
    "etl_backfill_parquet" -> Workload(Shape(contracts = 3000, columns = 32, maxLots = 11,
      objectPageLimit = 1000), jdbc = false))

  val WarmupRuns = 2
  val MinRuns = 5
  val MinTracedRuns = 2
  /** Runs whose committed mart is fingerprinted against the oracle: the
    * cold run and the first measured one. Every other run has its
    * committed row count checked, which keeps the time between runs short.
    */
  def fullCheck(idx: Int): Boolean = idx == 0 || idx == WarmupRuns + 1

  def log(s: String): Unit = println(s"[perfbench] $s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq
      all.reverse.foreach(Files.delete)
    }

  /** Heap occupancy right after each GC, the largest seen while armed;
    * the full GC between runs guarantees at least one reading.
    */
  object HeapWatch {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile private var armed = false
    @volatile private var peak = 0L
    private val listener: NotificationListener = (n, _) =>
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
    def arm(): Unit = synchronized { peak = 0L; armed = true }
    /** Peak in MB. */
    def disarm(): Double = synchronized {
      armed = false
      peak / 1048576.0
    }
  }

  final class RecordingAlerter extends Alerter {
    @volatile var alerts = 0
    override def alert(text: String): Unit = alerts += 1
  }

  type Metric = (String, Double, String)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    // the stub's server thread and Spark keep the JVM alive: exit explicitly
    val code =
      try { run(opts); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(opts: Map[String, String]): Unit = {
    val name = opts("--workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val work = Paths.get(opts("--work")).toAbsolutePath
    Files.createDirectories(work)
    val bench = new PipelineBench(name, wl, opts("--seed").toLong, work, Paths.get(opts("--bench")).toAbsolutePath,
      opts("--python"))
    val seconds = opts("--seconds").toDouble
    val metrics =
      try if (opts("--trace") == "1") bench.traced(seconds) else bench.plain(seconds)
      finally bench.close()
    val metricJson = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    Files.writeString(work.resolve("result.json"),
      s"""{"correct": ${bench.failed == 0}, "attempted": ${bench.attempted}, "failed": ${bench.failed}, """ +
        s""""metrics": {$metricJson}}""")
    ()
  }
}

/** One benchmark process: set-up, a cold run, warm-up runs, then measured
  * runs for the given seconds. Every run is checked and cleaned up after
  * its clock stops.
  */
final class PipelineBench(name: String, wl: PipelineBench.Workload, seed: Long, work: Path, benchDir: Path,
    python: String) {
  import PipelineBench._

  var attempted = 0
  var failed = 0

  // ------------------------------------------------------------ set-up
  private val (spark, sessionS) = timed {
    val s = SparkSession.builder().master("local[2]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      // two shuffle partitions per core: at the default 200 the per-task
      // overhead of a cached mart, not the data, sets the run time
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(s)
  }
  private val sc = spark.sparkContext

  private val limits = YouGileConfig(baseUrl = "", token = "perfbench", allowedBoards = Fixtures.allowedBoards,
    objectPageLimit = wl.shape.objectPageLimit)
  // generation and page rendering repeat and report their median, so one
  // slow repetition does not move set-up time
  private val (universe, genS) = {
    val gens = (1 to 3).map(_ => timed { val u = Universe.generate(wl.shape, limits, seed); u.pages; u })
    (gens.last._1, median(gens.map(_._2)))
  }
  log(s"$name seed=$seed digest=${universe.digest} requests=${universe.expectedRequests} " +
    s"items=${universe.expectedItems} missing_lots=${universe.missingLots}")

  private val (stub, stubS) = timed(new StubApi(universe.pages))
  private val cfg = limits.copy(baseUrl = stub.baseUrl)

  private val counters = new SpanCounters
  sc.addSparkListener(counters)

  // the cold run is the first pipeline work in this JVM; the expected
  // mart it is checked against is computed after it
  private val coldRun = execute(0)
  private val (expected, oracleS) = timed(Checks.expectedMart(spark, universe, work, benchDir, python))
  log(f"expected mart: ${expected.rows} rows (DuckDB oracle, $oracleS%.1f s, not part of set-up)")
  private val cold = checked(coldRun)
  private val (_, warmS) = timed((1 to WarmupRuns).foreach(plainRun))
  val setupS: Double = sessionS + genS + stubS + warmS
  log(f"set-up: session $sessionS%.2f s, universe $genS%.2f s, stub $stubS%.3f s, " +
    f"$WarmupRuns warm-up runs $warmS%.2f s; cold run ${cold.seconds}%.2f s")

  def close(): Unit = {
    stub.stop()
    spark.stop()
  }

  // --------------------------------------------------------------- runs
  /** One sink target per run; `committed` re-reads what the run loaded. */
  private final class Target(idx: Int) {
    private val db = s"jdbc:derby:memory:perfbench$idx"
    private val dir = work.resolve(s"mart-$idx")
    val sink: MartSink =
      if (wl.jdbc) {
        // the mart table exists before the hourly load, as in production
        val s = new JdbcSink(s"$db;create=true", "cdm_tasks", "app", "app")
        s.write(Checks.emptyMart(spark))
        s
      } else new ParquetSink(dir.toString)
    def committed(): DataFrame =
      if (wl.jdbc) spark.read.format("jdbc").option("url", db).option("dbtable", "cdm_tasks").load()
      else spark.read.parquet(dir.toString)
    def drop(): Unit =
      if (wl.jdbc) {
        try java.sql.DriverManager.getConnection(s"$db;drop=true").close()
        catch { case _: java.sql.SQLException => () } // Derby reports a dropped database as an exception
      } else deleteTree(dir)
  }

  /** Checks a finished run; false, with the reasons logged, on any mismatch. */
  private def verify(idx: Int, t: Target, rows: Long, alerts: Int): Boolean = {
    val problems = Seq(
      Option.when(stub.requests.get != universe.expectedRequests)(
        s"requests ${stub.requests.get} != ${universe.expectedRequests}"),
      Option.when(stub.items.get != universe.expectedItems)(s"items ${stub.items.get} != ${universe.expectedItems}"),
      Option.when(stub.misses.get != 0)(s"${stub.misses.get} requests for pages that do not exist"),
      Option.when(alerts != (if (universe.missingLots > 0) 1 else 0))(
        s"$alerts data-loss alerts with ${universe.missingLots} missing lots"),
      Option.when(rows != expected.rows)(s"run returned $rows rows, expected ${expected.rows}"),
      if (fullCheck(idx)) {
        val fp = Checks.fingerprint(t.committed())
        Option.when(fp != expected)(s"committed mart $fp != expected $expected")
      } else {
        val n = t.committed().count()
        Option.when(n != expected.rows)(s"committed mart has $n rows, expected ${expected.rows}")
      }).flatten
    problems.foreach(p => log(s"check failed: $p"))
    problems.isEmpty
  }

  private def hygiene(t: Target): Unit = {
    t.drop()
    spark.catalog.clearCache()
    System.gc()
  }

  private def newClient(): (YouGileClient, () => Double) = {
    // the limiter's clock is wall time plus the waits it asked for, and a
    // wait advances that clock instead of sleeping: pacing is accounted
    var waitedMs = 0L
    val limiter = new RateLimiter(cfg.minRequestIntervalMs,
      nowMs = () => System.currentTimeMillis() + waitedMs, sleep = w => waitedMs += w)
    (new HttpYouGileClient(cfg, limiter), () => waitedMs / 1000.0)
  }

  /** Runs `Pipeline.run` once on the clock; checks and cleans up after. */
  private def plainRun(idx: Int): Executed = checked(execute(idx))

  private final class Executed(val idx: Int, val target: Target, val rows: Option[Long], val alerts: Int,
      val seconds: Double, val pacedSeconds: Double)

  private def execute(idx: Int): Executed = {
    val t = new Target(idx)
    stub.reset()
    val alerter = new RecordingAlerter
    val (client, paced) = newClient()
    attempted += 1
    val t0 = System.nanoTime()
    val rows =
      try Some(Pipeline.run(spark, client, cfg, Fixtures.runTs, t.sink, alerter))
      catch { case e: Exception => log(s"run $idx threw: $e"); None }
    val s = (System.nanoTime() - t0) / 1e9
    new Executed(idx, t, rows, alerter.alerts, s, paced())
  }

  private def checked(e: Executed): Executed = {
    val ok = try e.rows.exists(verify(e.idx, e.target, _, e.alerts)) finally hygiene(e.target)
    if (!ok) failed += 1
    e
  }

  /** `Pipeline.run`'s steps through the same public functions, in its
    * order, with each layer's output materialised at the boundary so a
    * span holds one layer's work.
    */
  private def tracedRun(idx: Int, tr: Tracer): Option[Seq[Metric]] = {
    val t = new Target(idx)
    stub.reset()
    counters.reset()
    val alerter = new RecordingAlerter
    val (prod, paced) = newClient()
    val client = new TimedClient(prod)
    attempted += 1
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    def decode(entity: String, df: DataFrame): DataFrame =
      tr.span(s"decode.$entity")(counters.within(sc, "decode") { val p = keep(df); p.count(); p })
    // Catalyst planning of a frame, with the rewrites SparkEntry.configure
    // installed, timed as a span nested in its transform span
    def planned(span: String, df: DataFrame): DataFrame = { tr.span(s"plans.$span")(df.queryExecution.executedPlan); df }
    try {
      val (assemblyRows, martRows, assembled) = tr.span("pipeline") {
        val src = new YouGileSource(spark, client, cfg)
        val boards = tr.span("source.boards")(src.boards())
        val columns = tr.span("source.columns")(src.columns())
        val (b, c) = (decode("boards", boards), decode("columns", columns))
        val (bc, columnIds) = tr.span("transform.brd_clmn")(counters.within(sc, "brd_clmn") {
          val bc = keep(Transform.brdClmn(b, c, cfg.allowedBoards))
          (bc, bc.select("column_id").collect().map(_.getString(0)).toSeq)
        })
        val contracts = decode("contracts", tr.span("source.contracts")(src.contracts(columnIds)))
        val objects = decode("subtask_objects", tr.span("source.subtask_objects")(src.subtaskObjects()))
        val (assembled, assemblyRows) = tr.span("transform.assembly")(counters.within(sc, "assembly") {
          val a = keep(planned("assembly", Transform.taskAssembly(
            Transform.contractsPrepared(contracts), Transform.subtasksPrepared(objects))))
          (a, a.count())
        })
        tr.span("transform.dq_probe")(counters.within(sc, "dq_probe") {
          if (!Transform.lostSubtasks(assembled).isEmpty) alerter.alert(Pipeline.DataLossAlert)
        })
        val stickers = decode("stickers", tr.span("source.stickers")(src.stickers()))
        val (mart, martRows) = tr.span("transform.mart")(counters.within(sc, "mart") {
          val m = keep(planned("mart", Transform.mart(assembled, bc, Transform.stickerStates(stickers), Fixtures.runTs)))
          (m, m.count())
        })
        tr.span("sinks.write")(counters.within(sc, "sink")(t.sink.write(mart)))
        (assemblyRows, martRows, assembled)
      }
      val lostLots = Transform.lostSubtasks(assembled).count()
      ListenerBusDrain(sc)
      val clientS = client.nanos / 1e9
      val root = tr.spans.find(_.name == "pipeline").get
      val covered = tr.spans.filter(_.parent == root.id).map(_.seconds).sum
      val spark_ = Seq("decode", "assembly", "mart", "sink").flatMap { s =>
        val c = counters.counts.getOrElse(s, new counters.Counts)
        Seq((s"spark.$s.jobs", c.jobs.toDouble, "count"), (s"spark.$s.tasks", c.tasks.toDouble, "count"),
          (s"spark.$s.task_s", c.runMs / 1e3, "s"), (s"spark.$s.gc_s", c.gcMs / 1e3, "s"),
          (s"spark.$s.shuffle_bytes", c.shuffleBytes.toDouble, "bytes"),
          (s"spark.$s.spill_bytes", c.spillBytes.toDouble, "bytes"))
      }
      val metrics = Seq(
        ("yougile.client.requests", stub.requests.get.toDouble, "count"),
        ("yougile.client.bytes", stub.bytes.get.toDouble, "bytes"),
        ("yougile.client.s", clientS, "s"),
        ("yougile.client.api_s", stub.busyNanos.get / 1e9, "s"),
        ("yougile.client.paced_s", paced(), "s"),
        ("yougile.source.s", tr.seconds("source.") - clientS, "s"),
        ("yougile.source.items", stub.items.get.toDouble, "count"),
        ("yougile.source.decode_s", tr.seconds("decode."), "s"),
        ("yougile.transform.brd_clmn_s", tr.seconds("transform.brd_clmn"), "s"),
        ("yougile.transform.assembly_s", tr.seconds("transform.assembly"), "s"),
        ("yougile.transform.dq_probe_s", tr.seconds("transform.dq_probe"), "s"),
        ("yougile.transform.mart_s", tr.seconds("transform.mart"), "s"),
        ("yougile.transform.assembly_rows", assemblyRows.toDouble, "count"),
        ("yougile.transform.lost_lots", lostLots.toDouble, "count"),
        ("yougile.transform.mart_rows", martRows.toDouble, "count"),
        ("yougile.transform.dedup_dropped", (assemblyRows - martRows).toDouble, "count"),
        ("plans.assembly.planning_ms", tr.seconds("plans.assembly") * 1e3, "ms"),
        ("plans.mart.planning_ms", tr.seconds("plans.mart") * 1e3, "ms"),
        ("sinks.write_s", tr.seconds("sinks.write"), "s"),
        ("sinks.rows", martRows.toDouble, "count")) ++ spark_ ++ Seq(
        ("trace.total_s", root.seconds, "s"),
        ("trace.unaccounted_s", root.seconds - covered, "s"))
      val ok = verify(idx, t, martRows, alerter.alerts)
      if (!ok) failed += 1
      Option.when(ok)(metrics)
    } catch {
      case e: Exception =>
        log(s"traced run $idx threw: $e")
        failed += 1
        None
    } finally {
      cached.foreach(_.unpersist(blocking = true))
      hygiene(t)
    }
  }

  private def measure[A](seconds: Double, minRuns: Int)(one: Int => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[A]
    var i = 0
    while (i < minRuns || (System.nanoTime() - t0) / 1e9 < seconds) {
      out += one(WarmupRuns + 1 + i)
      i += 1
    }
    out.result()
  }

  /** End-to-end metrics from untraced runs. */
  def plain(seconds: Double): Seq[Metric] = {
    val runs = measure(seconds, MinRuns)(plainRun)
    log(s"$name: ${runs.size} measured runs, run_s " + runs.map(r => f"${r.seconds}%.3f").mkString(" "))
    Seq(
      ("setup_s", setupS, "s"),
      ("cold_run_s", cold.seconds, "s"),
      ("run_s", median(runs.map(_.seconds)), "s"),
      ("api_paced_s", median(runs.map(_.pacedSeconds)), "s"),
      ("ok_ratio", (attempted - failed).toDouble / attempted, "ratio"))
  }

  /** Per-layer metrics: traced runs alternate with untraced ones, and the
    * difference of their medians is the tracing overhead.
    */
  def traced(seconds: Double): Seq[Metric] = {
    val tracers = scala.collection.mutable.ArrayBuffer.empty[Tracer]
    HeapWatch.arm()
    val pairs = measure(seconds, MinTracedRuns) { idx =>
      val plain = plainRun(idx)
      val tr = new Tracer(idx)
      tracers += tr
      (plain, tracedRun(idx, tr))
    }
    val heapMb = HeapWatch.disarm()
    Files.writeString(work.resolve("spans.json"), tracers.map(_.json).filter(_.nonEmpty).mkString("[\n", ",\n", "\n]\n"))
    val traced = pairs.flatMap(_._2)
    require(traced.nonEmpty, "no traced run passed its checks")
    val layers = traced.transpose.map(col => (col.head._1, median(col.map(_._2)), col.head._3))
    val overhead = layers.find(_._1 == "trace.total_s").get._2 - median(pairs.map(_._1.seconds))
    log(s"$name: ${pairs.size} traced runs; spans written to spans.json")
    // heap after GC swings with the collector's old-generation timing by far
    // more than a tenth between runs, so it is a per-layer figure only
    layers ++ Seq(("trace.overhead_s", overhead, "s"), ("jvm.heap_peak_mb", heapMb, "MB"))
  }
}
