package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark run in one JVM: build the session, stage the inputs,
  * then run the workload as a closed loop with a single client (a call
  * starts only after the previous one returned) until `--seconds` have
  * passed, checking every call's output. Raw samples go to `--out` as
  * JSON; `run.py` turns them into metrics.
  *
  * {{{
  * Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *         --fixture <dir> --work <dir> --out <file>
  * Harness --oracle-sql <file>
  * }}}
  */
object Harness {

  /** CPU time of the whole process (driver, tasks, JIT and GC threads). */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** A timed call. `act` runs inside the timer; `check` runs after it,
    * on `act`'s result, and returns the output's fingerprint or throws
    * when an invariant fails.
    */
  final case class Op(query: String, span: String, act: Ctx => Any, check: Any => Fingerprint.Fp)

  /** Per-call context: the pass index and, in a traced run, the tracer. */
  final case class Ctx(pass: Int, tracer: Option[Tracer]) {
    def span[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name, pass)(body))
  }

  final case class Call(pass: Int, query: String, span: String,
      startNs: Long, endNs: Long, cpuNs: Long, jitMs: Long, rows: Long, fp: String, err: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("oracle-sql") match {
      case Some(out) =>
        val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => Workloads.oracleQueries(k) }
        Files.writeString(Paths.get(out), Json.render(sql))
      case None => run(args)
    }
  }

  private def run(args: Map[String, String]): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val fixture = args("fixture")
    val work = Paths.get(args("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    require(Workloads.names.contains(workload), s"unknown workload '$workload'")

    val spark = Session.build(nproc, work)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val cal0 = Calibration.probe(spark, nproc)
    val wl = Workloads(workload, spark, fixture, work.toString, seed, traced)

    val calls = scala.collection.mutable.ArrayBuffer[Call]()
    def runPass(pass: Int): Unit = {
      val ctx = Ctx(pass, tracer)
      wl.pass(pass).foreach { op =>
        val c0 = cpuNs()
        val j0 = jitMs()
        val t0 = System.nanoTime()
        val res: Either[Throwable, Any] =
          try Right(ctx.span(op.span)(op.act(ctx))) catch { case NonFatal(e) => Left(e) }
        val t1 = System.nanoTime()
        val c1 = cpuNs()
        val j1 = jitMs()
        val (rows, fp, err) = res.flatMap { r =>
          try Right(op.check(r)) catch { case NonFatal(e) => Left(e) }
        } match {
          case Right(f) => (f.rows, f.hash, null)
          case Left(e) =>
            System.err.println(s"[perfbench] ${op.query} failed: $e")
            e.printStackTrace()
            (-1L, null, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        calls += Call(pass, op.query, op.span, t0, t1, c1 - c0, j1 - j0, rows, fp, err)
        // Orphaned checkpoint blocks would otherwise pile up across calls
        // (graft.Bench drops them after every query for the same reason);
        // waiting for the drop keeps it out of the next call's timer.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }

    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupCpuS = cpuNs() / 1e9
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass < wl.minPasses || System.nanoTime() < deadline) {
      runPass(pass)
      pass += 1
    }

    val extras = wl.extras()
    val kernel = if (traced) Some(Calibration.textKernels(spark, fixture)) else None
    val trace = tracer.map(_.finish(s"$workload-$seed-${ProcessHandle.current.pid}"))
    val cal1 = Calibration.probe(spark, nproc)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val out = Json.obj(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "env" -> Json.obj("jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "nproc" -> nproc, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpuS, "cal_s" -> Json.arr(Seq(cal0, cal1)),
      "retained_heap_mb" -> heapMb,
      "calls" -> Json.arr(calls.map(c => Json.obj("pass" -> c.pass,
        "query" -> c.query, "span" -> c.span, "start_ns" -> c.startNs, "end_ns" -> c.endNs, "cpu_ns" -> c.cpuNs, "jit_ms" -> c.jitMs,
        "rows" -> c.rows, "fp" -> c.fp, "err" -> c.err))),
      "extras" -> extras, "kernel" -> kernel, "trace" -> trace)
    Files.writeString(Paths.get(args("out")), out.text)
    spark.stop()
  }
}

/** The benchmark's own session: `graft.Bench`'s confs, sized to the host
  * (`local[nproc]`, one shuffle partition per core), with every scratch
  * directory inside the run's work directory.
  */
object Session {
  def build(nproc: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    spark.conf.set(graft.streaming.EventStream.StateProviderConf,
      graft.streaming.EventStream.HdfsStateProvider)
    spark.conf.set(graft.streaming.EventStream.StatePartitionsConf, "2")
    // One trivial query, so that the SQL engine's own first-use cost is
    // paid here rather than by whichever call the seed puts first.
    spark.range(16).selectExpr("sum(id)").collect()
    spark
  }
}

/** Host calibration and the kernel-throughput probe. */
object Calibration {
  @volatile private var sink = 0L

  /** A fixed single-thread spin plus a fixed no-op Spark stage, in
    * seconds: tracks how fast the host runs at this moment.
    */
  def probe(spark: SparkSession, nproc: Int): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink ^= x
    spark.sparkContext.parallelize(0 until nproc, nproc).map(_ + 1).count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Documents per second through the public `functions.TextCore`
    * tokenize, shingle and hash kernels, one thread, over the fixture's
    * documents.
    */
  def textKernels(spark: SparkSession, fixture: String): Json.Raw = {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextCore
    val icu = spark.conf.get("spark.sql.icu.caseMappings.enabled", "true").toBoolean
    val docs = graft.sources.Tables.documents(spark, fixture).select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    def once(): Double = {
      val t0 = System.nanoTime()
      docs.foreach { d =>
        sink ^= TextCore.tokens(d, icu).length
        sink ^= TextCore.minhashSig(d, icu).numElements()
        sink ^= TextCore.sortedShingleHashes(d, icu).numElements()
        sink ^= TextCore.simhash60(d, icu)
      }
      docs.length / ((System.nanoTime() - t0) / 1e9)
    }
    once()
    val rates = Seq.fill(5)(once()).sorted
    Json.obj("docs" -> docs.length, "docs_per_s" -> rates(rates.size / 2))
  }
}
