package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkEntry
import graft.checkpoint.Lineage
import graft.functions.F5Parse
import graft.operators.{Intermediates, Pipeline, Router}
import graft.sources.{TranscriptStore, Transcripts}
import perfbench.Harness._

/** The traced run: the tracing overhead from untraced/traced pairs of one
  * operation, the workload operation once traced, then every
  * layer timed from outside through its module's public functions, over the
  * fixed-size layer table of the same seed. Fills the per-layer metrics.
  */
object Layers {

  val OverheadPairs = 3
  val LayerStreamFiles = 8

  def run(spark0: SparkSession, a: Args, w: Workload): Unit = {
    var spark = spark0
    var sc: SparkContext = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)

    // tracing overhead: untraced and traced runs of one operation in
    // pairs, alternating which runs first so JIT drift does not bias the
    // sign; the median of the paired differences
    def once(traced: Boolean): Double = {
      Trace.enabled = traced
      Trace.span("operation", "overhead-op")(w.overheadOp(spark))
    }
    val overhead = (0 until OverheadPairs).map { i =>
      val (plain, traced) =
        if (i % 2 == 0) { val p = once(false); (p, once(true)) }
        else { val t = once(true); (once(false), t) }
      (traced - plain) / plain
    }
    attempted += 2 * OverheadPairs
    put("trace.overhead_frac", medianOf(overhead), "fraction")
    System.err.println(s"[bench] trace overhead pairs ${overhead.map(x => f"$x%.3f").mkString(" ")}")

    // the workload operation, traced, for the engine-wide counters (the
    // end-to-end metrics come only from untraced runs)
    attempted += 1
    Trace.enabled = true
    Trace.span("workload", a.workload)(Trace.span("operation", "traced-op")(w.traceOp(spark)))
    PerfbenchBridge.drain(sc)
    engine(listener, Trace.find(a.workload).get, w)

    val dir = a.layerData
    TranscriptStore.table(spark, dir)
    def timed(layer: String, name: String)(body: => Unit): Double = {
      attempted += 1
      try Trace.span("layer", s"$layer.$name")(secs(body)._2)
      catch { case e: Throwable => failed += 1; System.err.println(s"[bench] $layer.$name failed: $e"); Double.NaN }
    }
    def med3(layer: String, name: String)(body: => Unit): Double =
      medianOf((1 to 3).map(_ => timed(layer, name)(body)))

    Trace.span("workload", "layers") {
      // sources: a scan-only aggregate over the layer table
      val scan = timed("sources", "scan") {
        TranscriptStore.table(spark, dir).agg(sum(length(col("text"))), count(lit(1))).collect()
      }
      PerfbenchBridge.drain(sc)
      put("sources.scan_s", scan, "s")
      put("sources.bytes_read", listener.stagesOf(Trace.subtree(Trace.find("sources.scan").get.id))
        .map(_.inputBytes).sum.toDouble, "bytes")

      // functions: each kernel alone over one cached sample of the text
      val sample = TranscriptStore.table(spark, dir)
        .select(col("text"), F5Parse.kvCef(col("text")).as("kvc"),
          element_at(F5Parse.kvSyslog(col("text")), "date_time").as("dt"))
        .persist(StorageLevel.MEMORY_ONLY)
      val n = sample.count().toDouble
      val text = col("text")
      val kernels: Seq[(String, Column)] = Seq(
        "format" -> F5Parse.remoteLogFormat(text),
        "pri" -> F5Parse.pri(text),
        "strip_quotes" -> F5Parse.stripQuotes(text),
        "kv_syslog" -> F5Parse.kvSyslog(text),
        "kv_cef" -> F5Parse.kvCef(text),
        "paired_labels" -> F5Parse.pairedLabels(col("kvc")),
        "to_utc" -> F5Parse.toUtcOrEmpty(col("dt"), lit(2)))
      kernels.foreach { case (k, c) =>
        val t = med3("functions", k)(noop(sample.select(c.as("x"))))
        put(s"functions.${k}_ns_per_row", t * 1e9 / n, "ns")
      }
      sample.unpersist()

      // operators.Pipeline
      val t = Pipeline.healthFilter(TranscriptStore.table(spark, dir), Transcripts.healthStrings(spark))
      val off = Transcripts.utcOffsets(spark)
      put("pipeline.explode_all_s", timed("pipeline", "explode_all")(noop(Pipeline.explodedAll(t, off))), "s")
      put("pipeline.explode_rows_out", Pipeline.explodedAll(t, off).count().toDouble, "rows")
      put("pipeline.explode_stats_s",
        timed("pipeline", "explode_stats")(noop(Pipeline.explodedAll(t, off, Set(Pipeline.Stats)))), "s")
      put("pipeline.explode_traffic_s",
        timed("pipeline", "explode_traffic")(noop(Pipeline.explodedAll(t, off, Set(Pipeline.Traffic)))), "s")
      put("pipeline.life_facts_s", timed("pipeline", "life_facts")(noop(Pipeline.lifeFacts(t, off))), "s")
      put("pipeline.life_facts_rows", Pipeline.lifeFacts(t, off).count().toDouble, "rows")
      put("pipeline.life_agg_s",
        timed("pipeline", "life_agg")(noop(Pipeline.lifeAggOf(Pipeline.lifeFacts(t, off)))), "s")
      put("pipeline.episodes", Pipeline.lifeAggOf(Pipeline.lifeFacts(t, off)).count().toDouble, "count")
      val all = TranscriptStore.table(spark, dir)
      put("pipeline.health_dropped", (all.count() - t.count()).toDouble, "rows")
      put("pipeline.unknown_dropped",
        t.filter(F5Parse.remoteLogFormat(col("text")) === "Unknown").count().toDouble, "rows")

      // operators.Router: phases from its own [route] lines, sizes from
      // the listener and a walk of the sink
      val out = s"${a.run}/layer-routed"
      val buf = new ByteArrayOutputStream()
      val err = System.err
      val routeS = try {
        System.setErr(new PrintStream(buf, true))
        timed("router", "route")(Router.route(spark, dir, out))
      } finally System.setErr(err)
      PerfbenchBridge.drain(sc)
      val phases = "\\[route\\] ([a-z+ ]+): ([0-9.]+) s".r.findAllMatchIn(buf.toString)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      put("router.staged_write_s", phases.getOrElse("staged write", Double.NaN), "s")
      put("router.lifecycle_rewrite_s", phases.getOrElse("lifecycle rewrite", Double.NaN), "s")
      put("router.promote_s", phases.getOrElse("promote+cleanup", Double.NaN), "s")
      val rst = listener.stagesOf(Trace.subtree(Trace.find("router.route").get.id))
      put("router.rows_written", rst.map(_.recordsWritten).sum.toDouble, "rows")
      val (files, bytes) = walk(out)
      put("router.files_written", files.toDouble, "count")
      put("router.bytes_written", bytes.toDouble, "bytes")
      put("router.spill_bytes", rst.map(_.spillBytes).sum.toDouble, "bytes")

      // checkpoint.Lineage: the second staged writer, same input
      val lout = s"${a.run}/layer-lineage"
      rmrf(lout)
      put("lineage.route_s", timed("lineage", "route")(Lineage.route(spark, dir, lout)), "s")

      // SparkEntry queries, one traced run each (a traced analyst pass
      // over the same table has already timed the F5 ones)
      queryNames.foreach { q =>
        if (Trace.find(s"query.$q").isEmpty) timed("query", q) {
          try noop(SparkEntry.queries(q)(spark, dir)) finally Intermediates.release(spark)
        }
        PerfbenchBridge.drain(sc)
        val sp = Trace.find(s"query.$q").get
        put(s"query.${q}_s", (sp.end - sp.start) / 1000.0, "s")
        put(s"query.${q}_shuffle_bytes", listener.stagesOf(Trace.subtree(sp.id))
          .map(_.shuffleWriteBytes).sum.toDouble, "bytes")
      }

      // streaming.StreamingPipeline: the workload's own stream, or the
      // table split into equal files streamed one file per micro-batch;
      // either way its output is checked against a batch route
      val sw = w match {
        case s: StreamLifecycle => s
        case _ =>
          val s = new StreamLifecycle(a)
          val split = s"${a.run}/layer-stream-files"
          TranscriptStore.table(spark, dir)
            .withColumn("file_idx", pmod(hash(col("conv_id"), col("turn_idx")), lit(LayerStreamFiles)))
            .repartition(col("file_idx"))
            .write.mode("overwrite").partitionBy("file_idx").parquet(split)
          s.files = (0 until LayerStreamFiles).map { i =>
            val d = Paths.get(split, s"file_idx=$i")
            val ls = Files.list(d)
            try ls.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally ls.close()
          }
          Trace.span("layer", "stream.route_stream") {
            s.stream(spark, s.files, "layer-stream", 0.0, lockstep = true)
          }
          s
      }
      streamMetrics(sw)
      sw.verify(spark)

      // scaling: the router layer's route again, on one core
      val r4 = routeS
      val turns = TranscriptStore.table(spark, dir).count()
      spark.stop()
      spark = session(1, a.run)
      sc = spark.sparkContext
      val r1 = timed("router", "route_1core")(Router.route(spark, dir, out))
      put("route.turns_per_s_1core", turns / r1, "1/s")
      put("route.scaling_eff_1to4", r1 / (4 * r4), "fraction")
    }

    // self time per module, over every layer span
    val layers = Trace.spans.synchronized(Trace.spans.filter(_.level == "layer").toList)
    Seq("sources", "functions", "pipeline", "router", "lineage", "query", "stream").foreach { m =>
      put(s"self.${m}_s", layers.filter(_.name.startsWith(m + ".")).map(Trace.selfMs).sum / 1000.0, "s")
    }
    put("jvm.peak_rss_mb", peakRssMb(), "MB")
    dump(a.run, listener)
  }

  /** Engine-wide counters over the traced workload span and, for a stream,
    * its micro-batches.
    */
  def engine(l: SpanListener, root: Span, w: Workload): Unit = {
    val batches = w match {
      case s: StreamLifecycle => s.lastBatches.map(_.id).toSet
      case _ => Set.empty[Long]
    }
    val st = l.stagesOf(Trace.subtree(root.id), batches)
    put("spark.executor_cpu_s", st.map(_.cpuNs).sum / 1e9, "s")
    put("spark.gc_s", st.map(_.gcMs).sum / 1e3, "s")
    put("spark.shuffle_write_bytes", st.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    put("spark.spill_bytes", st.map(_.spillBytes).sum.toDouble, "bytes")
    val skews = st.filter(s => s.numTasks > 1 && s.taskMedianMs > 0).map(s => s.taskMaxMs.toDouble / s.taskMedianMs)
    put("spark.task_skew", if (skews.isEmpty) 1.0 else skews.max, "ratio")
    put("jvm.jit_ms", root.jitMs.toDouble, "ms")
  }

  def streamMetrics(s: StreamLifecycle): Unit = {
    val bs = s.lastBatches
    put("stream.batches", bs.size.toDouble, "count")
    put("stream.batch_s_p50", medianOf(bs.map(_.durationMs / 1000.0)), "s")
    put("stream.add_batch_s_p50", medianOf(bs.map(_.addBatchMs / 1000.0)), "s")
    // per-row duration, so the ratio compares batches of equal size; the
    // first batch pays the stream's cold start and is left out
    val perRow = bs.drop(1).map(b => b.durationMs.toDouble / b.rows)
    val qn = math.max(2, perRow.size / 4)
    put("stream.batch_s_growth", medianOf(perRow.takeRight(qn)) / medianOf(perRow.take(qn)), "ratio")
    val side = Seq("_attacks", "_lifefacts").map(d => walk(s"${s.lastOut}/$d")._1).sum
    put("stream.sidecar_files_end", side.toDouble, "count")
    put("stream.generator_late_s_max", s.lastLate.max, "s")
    put("stream.latency_p50_s", medianOf(s.lastLatency), "s")
  }

  /** Span dump (one JSON object per line) plus the attributed jobs/stages. */
  def dump(run: String, l: SpanListener): Unit = {
    val sb = new StringBuilder
    Trace.spans.synchronized(Trace.spans.toList).foreach { s =>
      sb ++= s"""{"kind":"span","id":${s.id},"parent":${s.parent},"level":"${s.level}","name":"${s.name}",""" +
        s""""run":"${s.runId}","start":${s.start},"end":${s.end},"self_ms":${Trace.selfMs(s)},"jit_ms":${s.jitMs}}""" + "\n"
    }
    l.synchronized {
      l.jobs.values.foreach { j =>
        sb ++= s"""{"kind":"job","id":${j.jobId},"span":${j.spanId},"batch":${j.batchId},"start":${j.start},"end":${j.end}}""" + "\n"
      }
      l.stages.foreach { s =>
        sb ++= s"""{"kind":"stage","id":${s.stageId},"job":${s.jobId},"start":${s.start},"end":${s.end},""" +
          s""""tasks":${s.numTasks},"cpu_ns":${s.cpuNs},"shuffle_read":${s.shuffleReadBytes},""" +
          s""""shuffle_write":${s.shuffleWriteBytes},"spill":${s.spillBytes}}""" + "\n"
      }
    }
    Files.writeString(Paths.get(run, "trace.jsonl"), sb.toString)
  }
}
