package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DomainBench, GraftSession, Mat, SparkEntry}
import graft.domain.{Calc, Export}

/** Closed-loop, single-client harness for one workload. It calls only the
  * engine's public functions, writes every operation's result as parquet
  * for the oracle check, and records raw timings to `result.json`; the
  * Python side (`run.py`) turns those into metrics.
  *
  * Usage: Harness --workload gl_full|gl_delta|ops_iterative --inputs DIR
  *   --warm-inputs DIR --out DIR --seconds S --trace 0|1 --deltas K
  *   [--fault throw:OP|perturb:OP]
  */
object Harness {
  val glKeys = Seq("premium_id", "broker_id", "entry_type")
  val iterativeOps = Seq("g_entity_resolution", "v_nnd_search", "d_components", "d_kcore",
    "d_bfs_levels", "d_lpa_communities", "x_bpe_deep", "d_minhash_lsh")

  final case class Conf(workload: String, inputs: String, warmInputs: String, out: String,
      seconds: Double, trace: Boolean, deltas: Int, fault: Option[(String, String)])

  final case class Op(name: String, group: Int, seconds: Double, traced: Boolean,
      error: Option[String], output: Option[String], spans: Seq[Span],
      counts: Seq[(String, Seq[(String, Double)])])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"), a("inputs"), a("warm-inputs"), a("out"), a("seconds").toDouble,
      a("trace") == "1", a("deltas").toInt,
      a.get("fault").map { f => val Array(k, op) = f.split(":", 2); (k, op) })
    new Harness(conf).run()
  }

  /** Fixed-work single-thread integer loop: a throttled host reads it
    * several times slower than a quiet one. */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 20000000) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h ^= (h >>> 33); i += 1
    }
    if (h == 42L) System.err.println("calib sentinel")
    (System.nanoTime() - t0) / 1e6
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
  }
}

final class Harness(conf: Harness.Conf) {
  import Harness._

  private val cores = Runtime.getRuntime.availableProcessors()
  private var spark: SparkSession = _
  private val trace = new Trace
  private val ops = ArrayBuffer[Op]()
  private var outputs = 0
  private var peakHeap = 0L
  private val ledgerTasks = ArrayBuffer[Int]()

  /** Live heap at the end of a timed unit of work (a batch, a pass, a
    * delta cycle), before its materialized blocks are freed: used heap after a
    * full collection. Spark's ContextCleaner drops the blocks of
    * unreachable broadcasts and shuffles only after a collection has
    * enqueued them, so one collection lets the cleaner run and a second
    * one measures; otherwise the reading depends on cleaner timing.
    * Outside every operation's timing. */
  private def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peakHeap = math.max(peakHeap, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  // --- session ------------------------------------------------------------

  private def newSession(): Unit = {
    val work = Paths.get(conf.out).toAbsolutePath
    spark = GraftSession.builder("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  /** Persistent RDD ids, so blocks an operation leaves behind can be freed
    * once it is checked (outside its timing). */
  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def freeSince(before: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!before(id)) r.unpersist(blocking = false)
    }
  }

  private def fault(op: String, kind: String): Boolean = conf.fault.contains((kind, op))

  /** Write a result for the oracle check. A `perturb` fault drops one row. */
  private def save(op: String, df: DataFrame): String = {
    val path = Paths.get(conf.out, "outputs", f"$op-$outputs%04d").toString
    outputs += 1
    val out = if (fault(op, "perturb")) df.limit(math.max(0L, df.count() - 1).toInt) else df
    out.coalesce(1).write.parquet(path)
    path
  }

  // --- spans ----------------------------------------------------------------

  private final class Clock(val name: String) {
    val spans = ArrayBuffer[Span]()
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    def span[T](name: String, kind: String)(f: => T): T = {
      val ms = System.currentTimeMillis(); val ns = System.nanoTime()
      val r = f
      spans += Span(name, kind, this.name, ms, System.currentTimeMillis(), (System.nanoTime() - ns) / 1e9)
      r
    }
    def seconds: Double = (System.nanoTime() - startNs) / 1e9
  }

  /** Run one operation. With `traced`, the listeners are attached for it
    * alone and the bus is drained on both sides, so its events are
    * complete and no other operation's events mix in. The body returns
    * the result to save for the oracle check; saving is not timed. A throw
    * is recorded as an error; the operation's time is then never used. */
  private def operation(name: String, group: Int, traced: Boolean)(
      body: Clock => Option[() => DataFrame]): Unit = {
    if (traced) {
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      trace.clear()
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace)
    }
    val clock = new Clock(name)
    def attempt[T](f: => T): Either[String, T] =
      try Right(f) catch { case e: Throwable => Left(e.toString.take(500)) }
    val result = attempt {
      if (fault(name, "throw")) throw new IllegalStateException(s"injected fault in $name")
      body(clock)
    }
    val secs = clock.seconds
    val endMs = System.currentTimeMillis()
    val counts = if (!traced) Nil else {
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(trace)
      spark.listenerManager.unregister(trace)
      (name -> trace.counts(clock.startMs, endMs, cores)) +:
        clock.spans.toSeq.map(s => s.name -> trace.counts(s.startMs, s.endMs, cores))
    }
    val saved = result.flatMap(r => attempt(r.map(f => save(name, f()))))
    ops += Op(name, group, secs, traced, saved.left.toOption, saved.toOption.flatten,
      clock.spans.toSeq, counts)
  }

  private def glResult(df: DataFrame): DataFrame =
    df.select(col("premium_id"), col("broker_id"), col("entry_type"),
      col("amount").cast("double").as("amount"))

  // --- gl_full --------------------------------------------------------------

  /** One full batch; returns the Mat'd calc output the GL is built from. */
  private def glBatch(dir: String, c: Clock): DataFrame = {
    val in = c.span("domain.inputs", "build")(DomainBench.glInputs(spark, dir))
    val fin = c.span("domain.calc", "build")(Mat(Calc.run(in)))
    c.span("domain.gl", "action")(Calc.glEntries(fin).count())
    fin
  }

  /** A batch on the small copy pays most of the JIT and code-generation
    * warm-up cheaply; one batch on the timed inputs warms the paths that
    * only larger inputs make hot. */
  private def glFullWarmUp(): Unit = Seq(conf.warmInputs, conf.inputs).distinct.foreach { dir =>
    val before = persisted()
    glBatch(dir, new Clock("warm-up"))
    freeSince(before)
  }

  /** At least two warm batches (three in a traced run, which alternates
    * untraced and traced ones): `batch_s` takes the faster untraced one. */
  private def glFullLoop(): Unit = timedLoop(if (conf.trace) 3 else 2) { i =>
    val before = persisted()
    operation("gl_full", i, tracedUnit(i)) { c =>
      val fin = glBatch(conf.inputs, c)
      Some(() => glResult(Calc.glEntries(fin)))
    }
    sampleHeap()
    freeSince(before)
  }

  // --- gl_delta -------------------------------------------------------------

  private final case class Ledger(in: Calc.CalcInputs, base: DataFrame, deltas: Seq[DataFrame])

  /** Reference frames Mat'd as `g_incremental_gl` does, the base ledger from
    * premiums with `premium_id % 8 != 0`, and the rest split into
    * `conf.deltas` batches by `(premium_id div 8) % deltas`. */
  private def prepareLedger(dir: String, k: Int): Ledger = {
    val in0 = DomainBench.glInputs(spark, dir)
    val in = in0.copy(certificates = Mat(in0.certificates), splits = Mat(in0.splits),
      hierarchyVersions = Mat(in0.hierarchyVersions), participants = Mat(in0.participants))
    val id = col("premium_id")
    val base = Mat(Calc.glEntries(Calc.run(in.copy(premiums =
      in.premiums.filter(pmod(id, lit(8)) =!= 0)))))
    val deltas = (0 until k).map(j => in.premiums.filter(pmod(id, lit(8)) === 0 &&
      pmod(floor(id / 8), lit(k)) === j))
    Ledger(in, base, deltas)
  }

  private def applyDelta(l: Ledger, ledger: DataFrame, prem: DataFrame, c: Clock): DataFrame = {
    val fresh = c.span("domain.delta.build", "build") {
      Export.upsertCandidates(Calc.glEntries(Calc.run(l.in.copy(premiums = prem))), ledger, glKeys)
    }
    c.span("domain.delta.mat", "action")(Mat(ledger.unionByName(fresh)))
  }

  private var ledgerState: Ledger = _

  private def glDeltaWarmUp(): Unit = {
    val before = persisted()
    applyDelta(ledgerState, ledgerState.base, ledgerState.deltas.head, new Clock("warm-up"))
    freeSince(before)
  }

  /** One cycle applies every delta to the base ledger; a traced run
    * alternates traced and untraced deltas. */
  private def glDeltaLoop(): Unit = timedLoop(1) { cycle =>
    val before = persisted()
    var ledger = ledgerState.base
    ledgerState.deltas.zipWithIndex.foreach { case (prem, j) =>
      val traced = tracedUnit(cycle * ledgerState.deltas.size + j)
      operation("delta", cycle, traced) { c =>
        ledger = applyDelta(ledgerState, ledger, prem, c)
        None
      }
      // tasks one scan of the grown ledger launches
      if (traced) ledgerTasks += ledger.rdd.getNumPartitions
    }
    // the batch identity: base plus every delta equals the full batch
    val out = scala.util.Try(save("gl_delta", glResult(ledger)))
    ops += Op("ledger", cycle, 0.0, traced = false,
      out.failed.toOption.map(_.toString.take(500)), out.toOption, Nil, Nil)
    sampleHeap() // every ledger of the cycle is still held: its peak
    freeSince(before)
  }

  // --- ops_iterative --------------------------------------------------------

  private def query(name: String, dir: String, c: Clock): (DataFrame, Array[org.apache.spark.sql.Row]) = {
    val df = c.span(s"$name.build", "build")(SparkEntry.queries(name)(spark, dir))
    val rows = c.span(s"$name.collect", "action")(df.collect())
    (df, rows)
  }

  private def opsWarmUp(): Unit = iterativeOps.foreach { q =>
    val before = persisted()
    query(q, conf.inputs, new Clock("warm-up"))
    freeSince(before)
  }

  /** At least two warm passes (a traced run traces the second): `batch_s`
    * composes each query's faster untraced time. A pass keeps every
    * query's materialized blocks until its end, where the heap is sampled
    * once. */
  private def opsLoop(): Unit = timedLoop(2) { pass =>
    val before = persisted()
    iterativeOps.foreach { q =>
      operation(q, pass, tracedUnit(pass)) { c =>
        val (df, rows) = query(q, conf.inputs, c)
        Some(() => spark.createDataFrame(rows.toSeq.asJava, df.schema))
      }
    }
    sampleHeap()
    freeSince(before)
  }

  // --- run ------------------------------------------------------------------

  /** Repeat units of work until `conf.seconds` have passed, at least
    * `min` times. */
  private def timedLoop(min: Int)(unit: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < conf.seconds) {
      unit(i)
      i += 1
    }
  }

  /** Every timed unit runs after the warm-up; a traced run alternates
    * untraced and traced units, so the tracing overhead compares warm
    * units with warm units, and a traced unit sits between untraced ones
    * while timings still drift down. */
  private def tracedUnit(i: Int): Boolean = conf.trace && i % 2 == 1

  private def prepare(workload: String): Unit =
    if (workload == "gl_delta") ledgerState = prepareLedger(conf.inputs, conf.deltas)

  private def warmUp(workload: String): Unit = workload match {
    case "gl_full" => glFullWarmUp()
    case "gl_delta" => glDeltaWarmUp()
    case "ops_iterative" => opsWarmUp()
  }

  private def loop(workload: String): Unit = workload match {
    case "gl_full" => glFullLoop()
    case "gl_delta" => glDeltaLoop()
    case "ops_iterative" => opsLoop()
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(conf.out))
    // set-up: from JVM start until the program is ready, as a user pays it:
    // a session, for gl_delta the reference frames and base ledger, and one
    // untimed, unchecked warm-up unit of the workload's own code paths
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainAt = System.currentTimeMillis()
    newSession()
    val sessionAt = System.currentTimeMillis()
    prepare(conf.workload)
    val preparedAt = System.currentTimeMillis()
    warmUp(conf.workload)
    val readyAt = System.currentTimeMillis()
    val setup = Seq("setup_s" -> (readyAt - jvmStart) / 1e3, "jvm_s" -> (mainAt - jvmStart) / 1e3,
      "session_s" -> (sessionAt - mainAt) / 1e3, "prepare_s" -> (preparedAt - sessionAt) / 1e3,
      "warm_up_s" -> (readyAt - preparedAt) / 1e3)
    val oracleKeys = if (conf.workload == "ops_iterative") iterativeOps else Seq("domain_e2e_gl")
    Files.write(Paths.get(conf.out, "oracle_sql.json"),
      json(oracleKeys.map(k => k -> SparkEntry.oracleSql(k))).getBytes(UTF_8))

    System.gc()
    calibMs() // the first call also JIT-compiles the loop
    val calBefore = calibMs()
    val t0 = System.nanoTime()
    loop(conf.workload)
    val timed = (System.nanoTime() - t0) / 1e9
    val calAfter = calibMs()

    val keyConfs = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "spark.sql.join.preferSortMergeJoin",
      "spark.sql.optimizer.runtime.bloomFilter.enabled", "spark.sql.extensions",
      "spark.sql.session.timeZone", "spark.serializer")
    val opJson = ops.map { o =>
      Seq("name" -> o.name, "group" -> o.group, "seconds" -> o.seconds, "traced" -> o.traced,
        "error" -> o.error, "output" -> o.output,
        "spans" -> o.spans.map(s => Seq("name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)),
        "counts" -> o.counts)
    }
    val result = Seq(
      "workload" -> conf.workload,
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "confs" -> keyConfs.map(k => k -> spark.conf.getOption(k).orNull),
      "mat_mode" -> sys.props.get("graft.mat").orElse(sys.env.get("SPARK_GRAFT_MAT")).getOrElse("localCheckpoint"),
      "setup" -> setup,
      "timed_s" -> timed,
      "peak_heap_mb" -> peakHeap / 1048576.0,
      "ledger_tasks" -> ledgerTasks.toSeq,
      "calib_ms_before" -> calBefore,
      "calib_ms_after" -> calAfter,
      "ops" -> opJson.toSeq)
    Files.write(Paths.get(conf.out, "result.json"), json(result).getBytes(UTF_8))
    spark.stop()
  }
}
