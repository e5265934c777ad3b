package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.checkpoint.Lineage
import graft.operators.{Intermediates, Pipeline, Router}
import graft.sources.{TranscriptStore, TranscriptTable, Transcripts}
import graft.streaming.StreamingPipeline

/** JVM side of the benchmark: sets up, times one workload, checks what the
  * program produced, and writes `result.json` into the run directory.
  *
  *   Harness --workload W --data DIR [--layer-data DIR] --run DIR --seconds S --trace 0|1
  *
  * With `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
  * measures the tracing overhead and runs the workload once traced, then
  * the per-layer suite over `--layer-data`, and reports the per-layer
  * metrics.
  */
object Harness {

  val Cores = 4
  val SetupRounds = 4
  val WarmRoutes = 3

  val F5Queries: Seq[String] = (1 to 15).map(i => f"q$i%02d")
  val CurationQueries: Seq[String] =
    Seq("q25", "q26", "q29", "q32", "q51", "q52", "q53", "q56", "q57", "q62", "q63")

  private def fullNames(prefixes: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    prefixes.map(p => all.find(_.startsWith(p + "_")).getOrElse(sys.error(s"no query named ${p}_*")))
  }
  /** The analyst's closed loop: the 15 F5 queries, in pass order. */
  lazy val f5Names: Seq[String] = fullNames(F5Queries)
  /** Every query the traced run times: F5 plus curation. */
  lazy val queryNames: Seq[String] = fullNames(F5Queries ++ CurationQueries)

  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: String = m("workload")
    val data: String = Paths.get(m("data")).toAbsolutePath.toString
    val run: String = Paths.get(m("run")).toAbsolutePath.toString
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m.getOrElse("trace", "0") == "1"
    /** The table the traced run's layer suite reads (default: `data`). */
    val layerData: String = Paths.get(m.getOrElse("layer-data", m("data"))).toAbsolutePath.toString
  }

  // ---------------------------------------------------------------- output

  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    attempted += 1
    if (!ok) failed += 1
  }

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def jn(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def writeResult(run: String, extra: Map[String, String]): Unit = {
    val ms = metrics.map { case (k, (v, u)) => s"${js(k)}: {\"value\": ${jn(v)}, \"unit\": ${js(u)}}" }
    val cs = checks.map { case (n, ok, d) => s"{\"name\": ${js(n)}, \"ok\": $ok, \"detail\": ${js(d)}}" }
    val ex = extra.map { case (k, v) => s"${js(k)}: $v" }
    val body = (Seq(s"\"metrics\": {${ms.mkString(", ")}}", s"\"attempted\": $attempted",
      s"\"failed\": $failed", s"\"checks\": [${cs.mkString(", ")}]") ++ ex).mkString("{", ", ", "}")
    Files.writeString(Paths.get(run, "result.json"), body)
  }

  // --------------------------------------------------------------- helpers

  def session(cores: Int, run: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Pipeline.configure(s)
    s
  }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated quantile, the way numpy's default computes it. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest percentile (at most p90, at least p50) that still has ten
    * samples beyond it.
    */
  def tailQ(n: Int): Double = math.max(0.5, math.min(0.9, 1.0 - 10.0 / math.max(n, 1)))

  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Where the benchmark build points the program's transcript store. */
  val StoreRoot = ".bench_build/store"

  /** Drop the program's transcript store for `dir`, so the next read
    * materializes it again (the store keys its cache by directory).
    */
  def dropStore(dir: String): Unit = {
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_")
    val root = Paths.get(StoreRoot)
    if (Files.isDirectory(root)) {
      val ls = Files.list(root)
      try ls.iterator().asScala.filter(_.getFileName.toString.startsWith(key)).toList
        .foreach(p => rmrf(p.toString))
      finally ls.close()
    }
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Host CPU time stolen from this machine's vCPUs, all of them, in s. */
  def stealS(): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
  }

  def peakRssMb(): Double = {
    val st = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    st.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Files and bytes under a sink directory (data files only). */
  def walk(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try {
        val fs = w.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toList
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally w.close()
    }
  }

  /** A transcripts table that is a directory of parquet files, for the
    * batch route over exactly the files a stream consumed.
    */
  final class DirTable(path: String) extends TranscriptTable {
    def table(spark: SparkSession, dir: String, rep: Int): DataFrame =
      spark.read.schema(StreamingPipeline.transcriptSchema).parquet(path)
    def snapshotId(spark: SparkSession, dir: String, rep: Int): String =
      Lineage.snapshotId(path, rep, table(spark, dir, rep).count())
  }

  /** Order-free row equality: every column cast to string, multiset compare. */
  def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    val cols = a.columns.toSet.intersect(b.columns.toSet).toSeq.sorted
    def norm(d: DataFrame) = d.select(cols.map(c => col(c).cast("string").as(c)): _*)
    val (na, nb) = (a.count(), b.count())
    val missing = norm(b).exceptAll(norm(a)).count()
    val extra = norm(a).exceptAll(norm(b)).count()
    (na == nb && missing == 0 && extra == 0 &&
      a.columns.toSet == b.columns.toSet,
      s"rows $na vs $nb, missing $missing, extra $extra, cols ${a.columns.length}/${b.columns.length}")
  }

  // ------------------------------------------------------------- workloads

  abstract class Workload(val a: Args) {
    /** Benchmark-side preparation, not part of set-up time. */
    def prepare(spark: SparkSession): Unit = ()
    def needsPrepare: Boolean = false
    /** Set-up work after the session starts: the transcript store. */
    def setup(spark: SparkSession): Unit = TranscriptStore.table(spark, a.data)
    /** The fixed warm-up before timing. */
    def warmUp(spark: SparkSession): Unit
    /** Timed phase; fills metrics. */
    def measure(spark: SparkSession, seconds: Double): Unit
    /** Output checks against the reference. */
    def verify(spark: SparkSession): Unit
    /** One operation for the traced run; returns its wall seconds. */
    def traceOp(spark: SparkSession): Double
    /** The operation whose traced and untraced runs give the tracing
      * overhead; returns its wall seconds.
      */
    def overheadOp(spark: SparkSession): Double = traceOp(spark)
    /** Input turns of this workload. */
    def turns: Long
  }

  final class RouteBatch(args: Args) extends Workload(args) {
    val out = s"${a.run}/routed"
    var turns = 0L
    def route(spark: SparkSession): Double = secs(Router.route(spark, a.data, out))._2
    def warmUp(spark: SparkSession): Unit = (1 to WarmRoutes).foreach(_ => route(spark))
    def measure(spark: SparkSession, seconds: Double): Unit = {
      turns = TranscriptStore.table(spark, a.data).count()
      val ts = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      val cpu0 = processCpuS()
      val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      while (ts.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        attempted += 1
        try ts += route(spark)
        catch { case e: Throwable => failed += 1; System.err.println(s"[bench] route failed: $e") }
      }
      System.err.println(f"[bench] window cpu ${processCpuS() - cpu0}%.2f s jit ${(ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3}%.2f s")
      System.err.println(s"[bench] routes ${ts.map(t => f"$t%.2f").mkString(" ")}")
      put("op_p50_s", medianOf(ts.toList), "s")
    }
    def verify(spark: SparkSession): Unit = {
      val got = Router.readRouted(spark, out)
      val ref = Pipeline.records(spark, a.data)
      def counts(d: DataFrame) = d.groupBy("record_type", "tool").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val (g, r) = (counts(got), counts(ref))
      check("route.sink_counts", g == r, s"${g.size} sinks vs ${r.size}")
      def closed(d: DataFrame) = d.filter(col("record_type") === Pipeline.Attacks &&
        col("attack_end_date").isNotNull).count()
      val (cg, cr) = (closed(got), closed(ref))
      check("route.closed_attacks", cg == cr && cr > 0, s"$cg vs $cr")
    }
    def traceOp(spark: SparkSession): Double = route(spark)
  }

  final class QueriesAnalyst(args: Args) extends Workload(args) {
    var turns = 0L
    def runQuery(spark: SparkSession, name: String): Unit =
      try noop(SparkEntry.queries(name)(spark, a.data))
      finally Intermediates.release(spark)
    /** The warm-up is one pass over the same plans the window times, each
      * result written out for the DuckDB oracle compare done by run.py.
      */
    def warmUp(spark: SparkSession): Unit = {
      val dir = s"${a.run}/check"
      f5Names.foreach { q =>
        try SparkEntry.queries(q)(spark, a.data).write.mode("overwrite").parquet(s"$dir/$q")
        catch { case e: Throwable => System.err.println(s"[bench] check $q failed: $e") }
        finally Intermediates.release(spark)
      }
      val sql = SparkEntry.oracleSql.filter(e => f5Names.contains(e._1))
        .map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString("{", ", ", "}")
      Files.writeString(Paths.get(dir, "oracle_sql.json"), sql)
    }
    /** Queries in pass order, round robin, until the window closes and
      * every query has run at least once.
      */
    def measure(spark: SparkSession, seconds: Double): Unit = {
      turns = TranscriptStore.table(spark, a.data).count()
      val times = mutable.LinkedHashMap(f5Names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
      val t0 = System.nanoTime()
      val cpu0 = processCpuS()
      val steal0 = stealS()
      var i = 0
      while (i < f5Names.size || (System.nanoTime() - t0) / 1e9 < seconds) {
        val q = f5Names(i % f5Names.size)
        attempted += 1
        try times(q) += secs(runQuery(spark, q))._2
        catch { case e: Throwable => failed += 1; System.err.println(s"[bench] $q failed: $e") }
        i += 1
      }
      // one warm pass = the sum of each query's median
      val pass = times.values.map(ts => medianOf(ts.toList)).sum
      put("op_p50_s", pass, "s")
      System.err.println(f"[bench] window wall ${(System.nanoTime() - t0) / 1e9}%.2f s cpu ${processCpuS() - cpu0}%.2f s steal ${stealS() - steal0}%.2f s")
      System.err.println(f"[bench] $i queries; pass $pass%.3f s; " +
        times.values.map(ts => ts.map(t => f"$t%.2f").mkString("/")).mkString(" "))
    }
    /** The results were written by the warm-up; run.py compares them. */
    def verify(spark: SparkSession): Unit = ()
    /** A pass with every query in its own span, so the traced run reads
      * the F5 query layer off it.
      */
    def traceOp(spark: SparkSession): Double =
      secs(f5Names.foreach(q => Trace.span("layer", s"query.$q")(runQuery(spark, q))))._2
    /** One operation of the loop: the heaviest F5 query of the probes. */
    override def overheadOp(spark: SparkSession): Double =
      secs(runQuery(spark, f5Names.find(_.startsWith("q05_")).get))._2
  }

  /** Open-loop stream: files due on a fixed schedule from one generator
    * thread, each placed by an atomic move into the source directory.
    */
  final class StreamLifecycle(args: Args) extends Workload(args) {
    val staging = s"${a.run}/stream-files"
    var files: Seq[Path] = Nil
    var turns = 0L
    var lastOut = ""
    var lastSrc = ""
    var lastBatches: List[ProgressListener#Batch] = Nil
    var lastLate: Seq[Double] = Nil
    var lastLatency: Seq[Double] = Nil

    override def needsPrepare: Boolean = true
    override def prepare(spark: SparkSession): Unit = {
      val plan = spark.read.parquet(s"${a.data}/plan.parquet").withColumnRenamed("event_id", "pid")
      Transcripts.withText(Transcripts.derived(spark, a.data))
        .join(plan, col("n") === col("pid"))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts2").as("ts"), col("file_idx"))
        .repartition(col("file_idx"))
        .write.mode("overwrite").partitionBy("file_idx").parquet(staging)
      files = Files.list(Paths.get(staging)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("file_idx="))
        .toSeq.sortBy(_.getFileName.toString.stripPrefix("file_idx=").toInt)
        .map(d => Files.list(d).iterator().asScala.find(_.toString.endsWith(".parquet")).get)
      turns = spark.read.parquet(staging).count()
    }

    /** One open-loop run over `fs`; returns per-file latency seconds.
      * With `lockstep` each file is placed only once the previous one has
      * been committed, so every micro-batch reads exactly one file.
      */
    def stream(spark: SparkSession, fs: Seq[Path], tag: String, seconds: Double,
               lockstep: Boolean = false): Seq[Double] = {
      val root = s"${a.run}/$tag"
      rmrf(root)
      val src = s"$root/src"
      val tmp = s"$root/tmp"
      Files.createDirectories(Paths.get(src))
      Files.createDirectories(Paths.get(tmp))
      val listener = new ProgressListener
      spark.streams.addListener(listener)
      val q = StreamingPipeline.routeStream(spark, src, s"$root/out", s"$root/ckpt")
      val interval = seconds / fs.size
      val due = new Array[Long](fs.size)
      val late = new Array[Double](fs.size)
      val gen = new Thread(() => {
        val t0 = System.currentTimeMillis() + 200
        fs.zipWithIndex.foreach { case (f, i) =>
          due(i) = if (lockstep) System.currentTimeMillis() else t0 + (i * interval * 1000).toLong
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val staged = Paths.get(tmp, f"part-$i%05d.parquet")
          Files.copy(f, staged)
          Files.move(staged, Paths.get(src, f"part-$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
          late(i) = (System.currentTimeMillis() - due(i)) / 1000.0
          if (lockstep) q.processAllAvailable()
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      try q.processAllAvailable()
      finally q.stop()
      spark.streams.removeListener(listener)
      // file -> micro-batch from the file-source log, batch -> commit time
      val log = Paths.get(s"$root/ckpt/sources/0")
      val fileBatch = Files.list(log).iterator().asScala.toList
        .filter(_.getFileName.toString.matches("\\d+"))
        .flatMap { p =>
          val b = p.getFileName.toString.toLong
          Files.readAllLines(p).asScala.flatMap(l => "part-(\\d{5})\\.parquet".r
            .findFirstMatchIn(l).map(_.group(1).toInt -> b))
        }.toMap
      def commitMs(b: Long): Long =
        Files.getLastModifiedTime(Paths.get(s"$root/ckpt/commits/$b")).toMillis
      val lat = fs.indices.map(i => (commitMs(fileBatch(i)) - due(i)) / 1000.0)
      lastOut = s"$root/out"
      lastSrc = src
      lastBatches = listener.snapshot.sortBy(_.id)
      lastLate = late.toSeq
      lastLatency = lat
      if (Trace.enabled) lastBatches.foreach(b =>
        Trace.record("operation", s"batch-${b.id}", Trace.current, b.startMs, b.startMs + b.durationMs))
      lat
    }

    def warmUp(spark: SparkSession): Unit = stream(spark, files.take(2), "warmup", 1.0)
    def measure(spark: SparkSession, seconds: Double): Unit = {
      try {
        val lat = stream(spark, files, "timed", seconds)
        attempted += lastBatches.size
        put("op_p50_s", medianOf(lat), "s")
        put("op_tail_s", quantile(lat, tailQ(lat.size)), "s")
      } catch { case e: Throwable =>
        attempted += 1; failed += 1; System.err.println(s"[bench] stream failed: $e")
      }
    }
    def verify(spark: SparkSession): Unit = {
      val batchOut = s"${a.run}/stream-batch"
      Router.route(spark, "stream-files", batchOut, store = new DirTable(lastSrc))
      val (ok, detail) = sameRows(StreamingPipeline.readRoutedStream(spark, lastOut),
        Router.readRouted(spark, batchOut))
      check("stream.equals_batch_route", ok, detail)
      check("stream.all_files_committed", lastLatency.size == files.size && lastLatency.forall(_ > 0),
        s"${lastLatency.size} of ${files.size}")
    }
    def traceOp(spark: SparkSession): Double = medianOf(stream(spark, files, "traced", a.seconds))
    /** A short stream; a whole one per traced and untraced run would take
      * longer than the run may.
      */
    override def overheadOp(spark: SparkSession): Double = secs(warmUp(spark))._2
  }

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    Files.createDirectories(Paths.get(a.run))
    val w: Workload = a.workload match {
      case "route-batch" => new RouteBatch(a)
      case "queries-analyst" => new QueriesAnalyst(a)
      case "stream-lifecycle" => new StreamLifecycle(a)
      case other => sys.error(s"unknown workload $other")
    }
    if (a.trace) {
      val spark = session(Cores, a.run)
      w.prepare(spark)
      w.setup(spark)
      w.warmUp(spark)
      Layers.run(spark, a, w)
    } else {
      if (w.needsPrepare) {
        val prep = session(Cores, a.run)
        w.prepare(prep)
        prep.stop()
      }
      val setups = (1 to SetupRounds).map { r =>
        val (s, t) = secs {
          dropStore(a.data)
          val s = session(Cores, a.run)
          w.setup(s)
          s
        }
        if (r < SetupRounds) s.stop()
        t
      }
      val spark = SparkSession.active
      put("setup_s", medianOf(setups), "s")
      val (_, warm) = secs(w.warmUp(spark))
      val (_, timed) = secs(w.measure(spark, a.seconds))
      val (_, ver) = secs(w.verify(spark))
      System.err.println(f"[bench] setup rounds ${setups.map(x => f"$x%.2f").mkString(" ")}")
      System.err.println(f"[bench] phases: warm-up $warm%.1f s, measure $timed%.1f s, verify $ver%.1f s")
    }
    writeResult(a.run, Map("turns" -> w.turns.toString))
    SparkSession.active.stop()
  }
}
