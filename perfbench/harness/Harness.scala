package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.{BuildTimer, SparkEntry}
import graft.functions.{PqKernels, SketchOps, VectorSketchOps}
import graft.ops.Convert
import graft.schema.{HogiaSchema, HogiaTable}
import graft.sources.{JetTableIO, SqliteTableIO, TableIO}

/** JVM side of the benchmark: one workload, one closed-loop client thread,
  * `local[nproc]`. Writes raw per-op records (and, traced, the spans) for
  * `perfbench/run.py`, which computes and prints the metrics.
  *
  * Every layer is timed from outside, around its public entry point:
  * `SparkEntry.queries` (queries), `queryExecution.executedPlan` (plans),
  * `collect()` through that same QueryExecution (exec), `BuildTimer` and
  * the `graft.scratch` tree (operators), `Convert.konvertera` (ops), a
  * delegating [[TableIO]] (sources) and the scalar kernels (functions).
  * Untraced and traced ops make the same calls; only the recording
  * differs.
  */
object Harness {

  // ---- arguments -------------------------------------------------------
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: Path, out: Path, digests: Option[Path],
      pin: Option[Path], verbose: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("data")).toAbsolutePath.toString,
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("out")),
      m.get("digests").map(Paths.get(_)), m.get("pin").map(Paths.get(_)),
      m.getOrElse("verbose", "0") == "1")
  }

  /** Repetitions of the repeatable part of set-up; setup_s takes their median. */
  val PrepareReps = 3

  // ---- process and host counters ----------------------------------------
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** (steal, iowait, total) jiffies of the whole host, from /proc/stat. */
  private def cpuJiffies(): (Long, Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
      (f(7), f(4), f.sum)
    } catch { case _: Throwable => (0L, 0L, 0L) }

  final case class Host(gcMs: Long, jitMs: Long, steal: Long, iowait: Long, jiffies: Long)
  private def host(): Host = {
    val (s, w, t) = cpuJiffies()
    Host(gcMs(), jitMs(), s, w, t)
  }
  private def hostDelta(a: Host, b: Host): Map[String, Any] = {
    def frac(x: Long): Double =
      if (b.jiffies > a.jiffies) x.toDouble / (b.jiffies - a.jiffies) else 0.0
    Map("gc_s" -> (b.gcMs - a.gcMs) / 1e3, "jit_s" -> (b.jitMs - a.jitMs) / 1e3,
      "steal_frac" -> frac(b.steal - a.steal), "iowait_frac" -> frac(b.iowait - a.iowait))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { val _ = Files.deleteIfExists(f) })

  /** (committed `_SUCCESS` markers, bytes) under a scratch root. */
  private def artifacts(root: Path): (Int, Long) =
    if (!Files.exists(root)) (0, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.count(_.getFileName.toString == "_SUCCESS"), files.map(Files.size).sum)
    }

  // ---- ops ---------------------------------------------------------------
  /** One op's record: latency, CPU, result rows, verdict, and the layer
    * fields a traced op adds. */
  final class Rec(val name: String) {
    val f = mutable.LinkedHashMap.empty[String, Any]
    var ok = true
    def fail(why: String): Unit = { ok = false; f("error") = why.take(300) }
  }

  private def error(e: Throwable): String =
    e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200)

  abstract class Workload(val spark: SparkSession, val a: Args) {
    /** Recorder of the current phase: disabled untraced, enabled traced. */
    var tr: Tracer = new Tracer(false)
    /** Repeatable part of set-up (inputs); set-up runs it several times. */
    def prepare(): Unit = ()
    /** One pass of ops, in the seed's order for this pass. */
    def pass(p: Int, record: Rec => Unit): Unit
    /** Untimed passes of the one-off set-up: cold builds and JVM warm-up. */
    def warmPasses: Int = 1
    /** Nominal seconds of one warm pass on a 4-core host. A timed phase
      * runs round(--seconds / passSeconds) passes, at least one: a fixed
      * count, so a faster program does not buy itself a longer, warmer
      * phase than its parent's. */
    def passSeconds: Double
    final def passes(seconds: Double): Int = math.max(1, math.round(seconds / passSeconds).toInt)

    val setupFailures = ArrayBuffer.empty[String]
    private def setupOp(r: Rec): Unit =
      if (!r.ok) setupFailures += s"${r.name}: ${r.f("error")}"
    final def warmUp(): Unit = (1 to warmPasses).foreach(i => pass(-i, setupOp))

    protected def order[T](xs: Seq[T], p: Int): Seq[T] =
      new scala.util.Random(a.seed * 1000003L + p).shuffle(xs)

    /** Times `body` as one op: wall latency and process CPU. */
    protected def timed(r: Rec)(body: => Unit): Unit = {
      tr.op += 1
      r.f("op") = tr.op
      val c0 = cpuNs()
      r.f("start_ms") = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try tr.span("op")(body)
      catch { case e: Throwable => r.fail(error(e)) }
      r.f("latency_s") = (System.nanoTime() - t0) / 1e9
      r.f("end_ms") = System.currentTimeMillis()
      r.f("cpu_s") = (cpuNs() - c0) / 1e9
    }
  }

  /** Gate workloads (serve, curate, ingest): one op is one
    * `SparkEntry.queries` gate, fully materialized and digest-checked. */
  abstract class GateWorkload(spark: SparkSession, a: Args,
      pinned: Map[String, String]) extends Workload(spark, a) {

    val pinnedOut = mutable.LinkedHashMap.empty[String, (String, DataFrame)]
    def scratchRoot: Path = Paths.get(spark.conf.get("graft.scratch"))
    def useRoot(p: Path): Unit = spark.conf.set("graft.scratch", p.toString)
    /** Rows an op's `operators.bytes_per_input_row` divides by. */
    def inputRows(gate: String): Long = 0L

    def gate(name: String): Rec = {
      val r = new Rec(name)
      var df: DataFrame = null
      var rows: Array[Row] = Array.empty
      val before = artifacts(scratchRoot)
      BuildTimer.drainSeconds()
      var built = 0.0
      timed(r) {
        df = tr.span("queries.construct")(SparkEntry.queries(name)(spark, a.data))
        built = BuildTimer.drainSeconds()
        tr.span("plans.plan")(df.queryExecution.executedPlan)
        rows = tr.span("exec.execute")(df.collect())
      }
      r.f("construct_build_s") = built
      r.f("build_s") = built + BuildTimer.drainSeconds()
      val after = artifacts(scratchRoot)
      r.f("rows") = rows.length
      r.f("artifacts_committed") = after._1 - before._1
      r.f("artifact_bytes") = after._2 - before._2
      r.f("input_rows") = inputRows(name)
      if (r.ok) {
        if (tr.enabled) r.f("exchanges") = Plans.exchanges(df.queryExecution.executedPlan)
        val d = Digest.of(rows)
        if (a.pin.isDefined) pinnedOut(name) = (d, spark.createDataFrame(rows.toSeq.asJava, df.schema))
        else pinned.get(name) match {
          case None => r.fail(s"no pinned digest for $name")
          case Some(p) if p != d => r.fail(s"digest $d != pinned $p")
          case _ => ()
        }
      }
      r
    }
  }

  /** Short read-only gates over committed artifacts, built in set-up. */
  final class Serve(spark: SparkSession, a: Args, pinned: Map[String, String])
      extends GateWorkload(spark, a, pinned) {
    def passSeconds: Double = 7.5
    def pass(p: Int, record: Rec => Unit): Unit =
      order(Gates.serve, p).foreach(g => record(gate(g)))
  }

  /** Heavy curation gates; not in BENCHMARK.json (see README.md). */
  final class Curate(spark: SparkSession, a: Args, pinned: Map[String, String])
      extends GateWorkload(spark, a, pinned) {
    def passSeconds: Double = 18.0
    def pass(p: Int, record: Rec => Unit): Unit =
      order(Gates.curate, p).foreach(g => record(gate(g)))
  }

  /** The LSM lifecycle: every iteration builds into a fresh scratch root,
    * which is deleted afterwards, and each op must commit a new artifact
    * (a warm no-op would flatter the rate). */
  final class Ingest(spark: SparkSession, a: Args, pinned: Map[String, String])
      extends GateWorkload(spark, a, pinned) {
    private lazy val docs = spark.read.parquet(s"${a.data}/documents.parquet").count()
    private lazy val vecs = spark.read.parquet(s"${a.data}/embeddings.parquet").count()
    override def inputRows(g: String): Long =
      if (g.startsWith("q_ivf")) vecs else docs

    private var iteration = 0
    def passSeconds: Double = 8.0
    def pass(p: Int, record: Rec => Unit): Unit = {
      val root = a.work.resolve(s"scratch/ingest$iteration")
      iteration += 1
      useRoot(root)
      try order(Gates.ingestAxes, p).foreach { axis =>
        Seq("append", "compact", "purge").foreach { verb =>
          val r = gate(s"q_${axis}_$verb")
          if (r.ok && r.f("artifacts_committed").asInstanceOf[Int] < 1)
            r.fail("committed no new artifact")
          record(r)
        }
      } finally deleteTree(root)
    }
  }

  /** TableIO that times `read` and `truncateLoad` as `sources.<codec>.*`
    * spans and records the file size after each load. */
  final class TimedIO(inner: TableIO, codec: String, file: Path, tr: Tracer) extends TableIO {
    val sizes = ArrayBuffer.empty[Long]
    def read(spark: SparkSession, t: HogiaTable): DataFrame =
      tr.span(s"sources.$codec.read")(inner.read(spark, t))
    def truncateLoad(df: DataFrame, t: HogiaTable): Unit = {
      tr.span(s"sources.$codec.write")(inner.truncateLoad(df, t))
      sizes += Files.size(file)
    }
    def exists(spark: SparkSession, t: HogiaTable): Boolean = inner.exists(spark, t)
  }

  /** The paper's job on the seed's ledger: a forward op converts .mdb to
    * .db, the reverse op (`-backa`) converts it back to an .mdb that must
    * equal the source byte for byte. */
  final class ConvertWl(spark: SparkSession, a: Args) extends Workload(spark, a) {
    private val dir = a.work.resolve("convert")
    private val src = dir.resolve("ledger.mdb")
    private val db = dir.resolve("ledger.db")
    private val back = dir.resolve("roundtrip.mdb")
    private var expected = Map.empty[String, Long]
    /** Transaktioner rows of the seed's ledger. */
    private val ledgerRows = 2000

    override def prepare(): Unit = {
      Files.createDirectories(dir)
      Files.deleteIfExists(src)
      val tables = Ledger.tables(spark, a.seed, ledgerRows)
      val io = new JetTableIO(src.toString)
      HogiaSchema.copyOrder.foreach(t => io.truncateLoad(tables(t.name), t))
      expected = tables.map { case (k, v) => k -> v.count() }
    }

    override def warmPasses: Int = 3
    def passSeconds: Double = 2.9

    /** One direction of `Convert.konvertera`, checked against the ledger. */
    private def direction(reverse: Boolean): Rec = {
      val r = new Rec(if (reverse) "reverse" else "forward")
      val (from, to) = if (reverse) ((db, "sqlite"), (back, "jet")) else ((src, "jet"), (db, "sqlite"))
      def io(f: Path, codec: String): TableIO = {
        val inner = if (codec == "jet") new JetTableIO(f.toString) else new SqliteTableIO(f.toString)
        if (tr.enabled) new TimedIO(inner, codec, f, tr) else inner
      }
      val sink = io(to._1, to._2)
      var counts = Map.empty[String, Long]
      timed(r) {
        counts = tr.span(if (reverse) "ops.reverse" else "ops.forward")(
          Convert.konvertera(spark, io(from._1, from._2), sink, reverse))
      }
      val rows = expected.values.sum
      r.f("rows") = rows
      if (r.ok) {
        if (counts != expected) r.fail(s"table counts $counts != $expected")
        else if (reverse && Files.mismatch(src, back) != -1L)
          r.fail("round-tripped .mdb differs from the source")
      }
      sink match {
        case t: TimedIO if t.sizes.nonEmpty =>
          r.f("write_amplification") = t.sizes.sum.toDouble / t.sizes.last
          r.f(s"${to._2}_bytes_per_row") = Files.size(to._1).toDouble / rows
        case _ => ()
      }
      r
    }

    def pass(p: Int, record: Rec => Unit): Unit = {
      record(direction(reverse = false))
      record(direction(reverse = true))
    }
  }

  // ---- kernels -------------------------------------------------------------
  /** ns per call of the scalar kernels on the run's documents and
    * embeddings: median of 5 timed batches after a warm-up batch. */
  private def kernels(spark: SparkSession, data: String): Map[String, Any] = {
    val texts = spark.read.parquet(s"$data/documents.parquet").orderBy("doc_id")
      .select("text").limit(1000).collect().map(_.getString(0))
    val vecs = spark.read.parquet(s"$data/embeddings.parquet").orderBy("vec_id")
      .select("embedding").limit(1000).collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).toArray))
    val toks = texts.map(t => new GenericArrayData(
      t.toLowerCase.split(" ").map(UTF8String.fromString(_): Any)))
    val utf = texts.map(UTF8String.fromString)
    val dim = vecs.head.numElements()
    val m = 8
    val k = math.min(256, vecs.length)
    val sub = dim / m
    val cb = Array.tabulate(m * k * sub) { i =>
      val (mi, rest) = (i / (k * sub), i % (k * sub))
      vecs(rest / sub).getFloat(mi * sub + rest % sub)
    }
    var sink = 0L
    def ns(n: Int)(f: Int => Long): Double = {
      def batch(): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < n) { sink += f(i); i += 1 }
        (System.nanoTime() - t0).toDouble / n
      }
      batch()
      val xs = Seq.fill(5)(batch()).sorted
      xs(2)
    }
    val out = Map(
      "minhash_ns" -> ns(20 * toks.length)(i =>
        SketchOps.minhashFeatures(toks(i % toks.length)).numFields.toLong),
      "winnow_ns" -> ns(20 * utf.length)(i => SketchOps.winnow(utf(i % utf.length)).numElements().toLong),
      "cosine_ns" -> ns(200000)(i =>
        VectorSketchOps.cosine(vecs(i % vecs.length), vecs((i * 7 + 1) % vecs.length)).toLong),
      "pq_encode_ns" -> ns(20 * vecs.length)(i => PqKernels.encode(vecs(i % vecs.length), cb, m, k)))
    // a use of every kernel result, so the JIT cannot drop the calls
    if (sink == Long.MinValue) System.err.print("")
    out
  }

  // ---- JSON ---------------------------------------------------------------
  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  // ---- main ---------------------------------------------------------------
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work.resolve("local"))
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("graft.scratch", a.work.resolve("scratch/base").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val pinned: Map[String, String] = a.digests.filter(Files.exists(_)).map { p =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      val gates = node.get("gates")
      gates.fieldNames().asScala.map(k => k -> gates.get(k).asText()).toMap
    }.getOrElse(Map.empty)

    val w: Workload = a.workload match {
      case "serve" => new Serve(spark, a, pinned)
      case "curate" => new Curate(spark, a, pinned)
      case "ingest" => new Ingest(spark, a, pinned)
      case "convert" => new ConvertWl(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val traced = new Tracer(true)

    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // gate workloads: touch every input table once (FileSystem, parquet footers)
    if (w.isInstanceOf[GateWorkload])
      Gates.tables.foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").limit(1).count())
    val sessionReadyMs = System.currentTimeMillis()
    val prepareS = (0 until PrepareReps).map(_ => secs(w.prepare()))
    val warmUpS = secs(w.warmUp())

    val phases = ArrayBuffer.empty[Map[String, Any]]
    val ops = ArrayBuffer.empty[Map[String, Any]]

    a.pin match {
      case Some(dir) =>
        // pin mode: one pass, digests and result parquet for the oracle
        w.pass(0, r => if (!r.ok) throw new IllegalStateException(s"${r.name}: ${r.f("error")}"))
        val g = w.asInstanceOf[GateWorkload]
        g.pinnedOut.foreach { case (name, (_, df)) =>
          df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
        }
        val oracle = SparkEntry.oracleSql.filter { case (k, _) => g.pinnedOut.contains(k) }
        Files.write(dir.resolve("oracle_sql.json"), json(oracle).getBytes(StandardCharsets.UTF_8))
        Files.write(dir.resolve("digests.json"),
          json(g.pinnedOut.map { case (k, (d, _)) => k -> d }).getBytes(StandardCharsets.UTF_8))
      case None =>
        def phase(label: String): Unit = {
          val h0 = host()
          val t0 = System.nanoTime()
          val passes = w.passes(a.seconds)
          var n = 0
          for (p <- 0 until passes)
            w.pass(p, r => {
              n += 1
              if (a.verbose) System.err.println(s"[perfbench] ${r.name} ${r.f("latency_s")} s")
              ops += (Map[String, Any]("phase" -> label, "pass" -> p, "name" -> r.name,
                "ok" -> r.ok) ++ r.f)
            })
          phases += (Map[String, Any]("phase" -> label, "wall_s" -> (System.nanoTime() - t0) / 1e9,
            "passes" -> passes, "ops" -> n) ++ hostDelta(h0, host()))
        }
        phase("untraced")
        if (a.trace) {
          val listener = new ExecListener
          spark.sparkContext.addSparkListener(listener)
          val first = ops.size
          w.tr = traced
          phase("traced")
          listener.drain(spark.sparkContext)
          for (i <- first until ops.size) {
            val o = ops(i)
            val c = listener.counts(o("start_ms").asInstanceOf[Long], o("end_ms").asInstanceOf[Long])
            ops(i) = o ++ Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
              "task_busy_s" -> c.taskBusyS, "task_cpu_s" -> c.taskCpuS,
              "sched_delay_s" -> c.schedDelayS, "skew" -> c.skew,
              "shuffle_read_bytes" -> c.shuffleReadB, "shuffle_write_bytes" -> c.shuffleWriteB,
              "spill_bytes" -> c.spillB, "peak_exec_mem_bytes" -> c.peakMemB,
              "failed_tasks" -> c.failedTasks)
          }
          spark.sparkContext.removeSparkListener(listener)
          // untraced again, so the overhead compares phases on both sides
          // of the traced one rather than a colder JVM with a warmer one
          w.tr = new Tracer(false)
          phase("untraced_after")
        }
    }

    // retained heap: forced full collections, outside any timed interval.
    // Spark's ContextCleaner drops unreachable broadcasts and shuffles
    // asynchronously after a collection, so collect until the reading
    // settles.
    def heapUsedMb(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var heapMb = heapUsedMb()
    var prev = Double.MaxValue
    var rounds = 0
    while (rounds < 10 && prev - heapMb > 0.5) {
      prev = heapMb
      heapMb = heapUsedMb()
      rounds += 1
    }
    val kern = if (a.trace) kernels(spark, a.data) else Map.empty[String, Any]

    val result = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "session_ready_ms" -> sessionReadyMs, "prepare_s" -> prepareS, "warm_up_s" -> warmUpS,
      "setup_failures" -> w.setupFailures, "retained_heap_mb" -> heapMb,
      "phases" -> phases, "ops" -> ops, "kernels" -> kern)
    Files.write(a.out, json(result).getBytes(StandardCharsets.UTF_8))
    if (a.trace) {
      val spans = traced.spans.map(s => json(Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.write(a.out.resolveSibling("spans.jsonl"),
        (spans.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}

/** The gates each workload runs, and the ledger the convert workload
  * converts. */
object Gates {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Short read-only gates: the parity gates plus the stored-index
    * serves. Their indexes are built in set-up. */
  val serve = Seq(
    "q_count_rows", "q_saldo_per_konto", "q_point_lookup", "q_null_empty",
    "q_decimal_cast", "q_date_parse", "q_topk_orders", "q_star_join",
    "q_cp1252_identity", "q_escape_compat",
    "q_bm25_topk_stored", "q_sq_topk_stored", "q_pq_topk_stored",
    "q_knn_ivf_stored", "q_near_dup_minhash_stored", "q_image_dedup_stored",
    "q_cosine_topk", "q_ann_topk")

  /** Heavy LLM-curation gates: shuffle- and kernel-bound. */
  val curate = Seq(
    "q_curation_pipeline_e2e", "q_dup_clusters", "q_near_dup_jaccard",
    "q_near_dup_minhash", "q_near_dup_winnow", "q_decontaminate_bloom",
    "q_dsir_weights", "q_split_leakage")

  /** Index axes of the append → compact → purge lifecycle. */
  val ingestAxes = Seq("ivf")
}

object Ledger {
  import org.apache.spark.sql.functions._

  /** A 10-table Hogia ledger: the golden fixture's small tables plus
    * `rows` seeded Transaktioner with cp1252 text (€, å/ä/ö), DECIMAL(19,4)
    * amounts and BIT flags. Saldo is NULL, as the forward conversion
    * writes it, so the round trip can be byte-identical. */
  def tables(spark: SparkSession, seed: Long, rows: Int): Map[String, DataFrame] = {
    def h(k: Int, mod: Long) = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(mod))
    def pick(k: Int, xs: String*) = element_at(array(xs.map(lit): _*), (h(k, xs.size) + 1).cast("int"))
    val t = HogiaSchema.byName("Transaktioner")
    val tx = spark.range(0, rows, 1, 1).select(
      (col("id") + 1).as("Löpnr"),
      pick(1, "---", "Plånboken", "Lönekonto", "Sparkonto").as("FrånKonto"),
      pick(2, "Plånboken", "Plats Ett", "Lönekonto", "Hyresvärd").as("TillKonto"),
      pick(3, "Insättning", "Inköp", "Uttag", "Överföring").as("Typ"),
      date_format(date_add(lit("2020-01-01").cast("date"), h(4, 1461).cast("int")), "yyyy-MM-dd").as("Datum"),
      pick(5, "Livsmedel", "Studiestöd", "Hyra", "Räkningar", "Nöje").as("Vad"),
      pick(6, "Gemensamt", "Person Ett", "Person Två").as("Vem"),
      (h(7, 100000000L) / lit(10000)).cast("decimal(19,4)").as("Belopp"),
      lit(null).cast("decimal(19,4)").as("Saldo"),
      (h(8, 7) === 0).as("Fastöverföring"),
      concat(pick(9, "Tom € räksmörgås ", "Åtta ölflaskor ", "Kvitto "), h(10, 100000).cast("string")).as("Text"))
    val typed = tx.select(t.schema.fields.map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)).toSeq: _*)
    Convert.goldenFixture(spark).updated("Transaktioner", spark.createDataFrame(typed.rdd, t.schema))
  }
}
