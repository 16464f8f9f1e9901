package perfbench

import graft.serve.{ArrowOutput, HotBuffer, ProtoCodec, Serve, WriteAheadLog}
import graft.streaming.StreamIngest
import graft.table.{Compaction, EventTable}
import graft.iceberg.{IcebergCommitter, TableIO}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The process under test: hosts one workload through the program's public
  * entry points, times the calls into them, and writes `host_result.json`
  * (plus `spans_host.jsonl` when traced) into the work directory. Outputs
  * are checked by `perfbench/run.py`, which owns all the arithmetic.
  *
  * Usage: `Host mode=<gateway|stream|sweep> work=<dir> trace=<0|1> [k=v ...]` */
object Host {
  def main(args: Array[String]): Unit = {
    val opts   = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work   = Paths.get(opts("work")).toAbsolutePath
    val tracer = new Tracer(opts.get("trace").contains("1"))
    val t0     = System.nanoTime()
    val spark  = session(opts("mode"), work)
    val probe  = new SparkProbe(tracer)
    spark.sparkContext.addSparkListener(probe)
    val qe = new QePhases
    spark.listenerManager.register(qe)
    val ctx = Ctx(spark, opts, work, tracer, probe, qe, (System.nanoTime() - t0) / 1e9)
    val out =
      try opts("mode") match {
        case "gateway" => gateway(ctx)
        case "stream"  => stream(ctx)
        case "sweep"   => sweep(ctx)
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          Map[String, Any]("fatal" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    val all = out ++ Map("session_s" -> ctx.sessionS, "peak_rss_mb" -> peakRssMb(), "total_cpu_ms" -> cpuMs())
    Files.write(work.resolve("host_result.json"), Json.value(all).getBytes("UTF-8"))
    if (tracer.enabled) tracer.write(work.resolve("spans_host.jsonl"))
    log("result written")
    spark.stop()
    log("session stopped")
  }

  final case class Ctx(spark: SparkSession, opts: Map[String, String], work: Path, tracer: Tracer,
                       probe: SparkProbe, qe: QePhases, sessionS: Double) {
    def counters(): Map[String, Long] = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      probe.snapshot() ++ qe.snapshot()
    }
  }

  private def session(mode: String, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$mode")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val s = mode match {
      // the gateway binary's own session settings (Serve.main)
      case "gateway" => b.config("spark.sql.shuffle.partitions", "32").getOrCreate()
      // the query bench's settings (one shuffle partition per core)
      case _ =>
        b.config("spark.sql.shuffle.partitions", "4")
          .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
          .getOrCreate()
    }
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  private def log(msg: String): Unit = println(s"[perfbench] ${System.currentTimeMillis()} $msg")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of this process, all threads (utime + stime of /proc/self/stat,
    * USER_HZ = 100), in ms; Spark runs in-process in local mode. */
  def cpuMs(): Long =
    try {
      val st = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
      val f  = st.substring(st.lastIndexOf(')') + 2).split(' ')
      (f(11).toLong + f(12).toLong) * 10L
    } catch { case NonFatal(_) => -1L }

  /** Row count plus an order-independent content hash that does not cancel
    * duplicate rows: the SUM (not xor) of per-row xxhash64 values. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(struct(cols: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    val h = Option(r.get(1)).map(_.toString).getOrElse("0")
    (r.getLong(0), h)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  /** Iceberg metadata and data-file shape of one committed table. */
  private def tableShape(root: String): Map[String, Any] = {
    val c     = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
    val meta  = c.load()
    val files = if (meta.isDefined) c.activeDataFiles() else Nil
    Map(
      "snapshots"      -> meta.map(_.snapshots.size).getOrElse(0),
      "manifests"      -> meta.map(m => c.currentManifestsOf(m).size).getOrElse(0),
      "metadata_bytes" -> dirBytes(Paths.get(root, "metadata")),
      "data_files"     -> files.size,
      "data_bytes"     -> files.map(_.fileSizeInBytes).sum)
  }

  // ------------------------------------------------------------ query_sweep

  private def sweep(ctx: Ctx): Map[String, Any] = {
    import ctx._
    val data = opts("data")
    val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
      "core"      -> graft.core.HotQueries.queries,
      "table"     -> graft.table.IcebergQueries.queries,
      "llm"       -> graft.llm.LlmQueries.queries,
      "corpus"    -> graft.llm.CorpusQueries.queries,
      "extract"   -> graft.extract.ExtractQueries.queries,
      "streaming" -> graft.streaming.StreamQueries.queries,
      "serve"     -> graft.serve.ServeQueries.queries,
      "sources"   -> (graft.sources.SegmentQueries.queries ++ graft.sources.JsonlCorpus.queries),
      "analytics" -> (graft.analytics.TpchQueries.queries ++ graft.analytics.JoinQueries.queries))
    val moduleOf = modules.flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap
    val all      = graft.SparkEntry.queries
    val only     = opts.get("only").map(_.split(',').toSet)
    val names    = all.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))

    final case class Rep(totalS: Double, ctorS: Double, rows: Long, hash: String, error: String)
    def runOne(name: String, rep: Int): Rep = {
      val rid = s"$name#$rep"
      tracer.span("query", rid = rid) { qid =>
        val t0 = System.nanoTime()
        try {
          val df = tracer.span("query.build", qid, rid)(_ => all(name)(spark, data))
          val t1 = System.nanoTime()
          val (rows, hash) = tracer.span("query.action", qid, rid) { aid =>
            spark.sparkContext.setLocalProperty("perfbench.span", aid)
            spark.sparkContext.setLocalProperty("perfbench.rid", rid)
            try fingerprint(df)
            finally {
              spark.sparkContext.setLocalProperty("perfbench.span", null)
              spark.sparkContext.setLocalProperty("perfbench.rid", null)
            }
          }
          Rep(secs(t0), (t1 - t0) / 1e9, rows, hash, null)
        } catch {
          // a failed query records its error and NO time (never a fast time)
          case NonFatal(e) => Rep(Double.NaN, Double.NaN, -1L, null, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      }
    }

    val tSetup = System.nanoTime()
    val first  = names.map(n => n -> runOne(n, 0)).toMap
    val setupS = secs(tSetup)
    val base   = counters()
    val memo0  = graft.core.SessionMemo.buildCount
    val budget = opts.getOrElse("seconds", "10").toDouble
    val minReps = opts.getOrElse("min_reps", "3").toInt
    val tWarm  = System.nanoTime()
    val cpu0   = cpuMs()
    val warm   = scala.collection.mutable.ArrayBuffer.empty[Map[String, Rep]]
    while (warm.size < minReps || secs(tWarm) < budget)
      warm += names.map(n => n -> runOne(n, warm.size + 1)).toMap
    val timedCpuMs = cpuMs() - cpu0
    val after = counters()
    val perQuery = names.map { n =>
      val reps = warm.map(_(n)).toSeq
      Map(
        "name" -> n, "module" -> moduleOf.getOrElse(n, "other"),
        "first_s" -> first(n).totalS, "first_rows" -> first(n).rows, "first_hash" -> first(n).hash,
        "first_error" -> first(n).error,
        "warm_s" -> reps.map(_.totalS), "ctor_s" -> reps.map(_.ctorS),
        "rows" -> reps.map(_.rows), "hash" -> reps.map(_.hash), "errors" -> reps.map(_.error))
    }
    Map(
      "mode" -> "sweep", "setup_s" -> Seq(ctx.sessionS + setupS), "first_touch_s" -> setupS,
      "warm_reps" -> warm.size, "warm_wall_s" -> secs(tWarm), "timed_cpu_ms" -> timedCpuMs,
      "memo_warm_builds" -> (graft.core.SessionMemo.buildCount - memo0),
      "spark_warm" -> after.map { case (k, v) => k -> (v - base.getOrElse(k, 0L)) },
      "queries" -> perQuery)
  }

  // ---------------------------------------------------------- stream_backlog

  private def stream(ctx: Ctx): Map[String, Any] = {
    import ctx._
    val data      = opts("data")
    val chunks    = opts("chunks").toInt
    val replicate = opts("replicate").toInt

    // staging the backlog is set-up; staged twice so setup_s is a median
    // rather than one sample (the first staging also runs the JVM's first
    // Spark jobs); the stream reads the last
    val staged = (0 until 2).map { i =>
      val dir = work.resolve(s"staging-$i").toString
      val t0  = System.nanoTime()
      val schema = StreamIngest.stageChunks(spark, data, dir, nChunks = chunks, replicate = replicate)
      (secs(t0), dir, schema)
    }
    val (_, staging, schema) = staged.last

    val root   = work.resolve("table").toString
    val base   = counters()
    probe.progress.clear()
    val ing    = new StreamIngest(spark, root, shufflePartitions = Some(8))
    val cpu0   = cpuMs()
    val tS     = System.nanoTime()
    val runId  = tracer.open()
    ing.runFileStream(staging, schema)
    tracer.close(runId, "stream.runFileStream", tS)
    val ingestS  = secs(tS)
    val afterRun = counters()
    val progress = probe.progress.asScala.toSeq
    val offset   = System.nanoTime() - System.currentTimeMillis() * 1000000L
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + offset
      val dur   = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      tracer.record("stream.trigger", start, start + dur * 1000000L, runId, s"batch-${p.batchId}")
    }
    def phase(k: String): Seq[Long] = progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))
    val stateOps = progress.flatMap(_.stateOperators)
    val flushPhases = histogramSums(ing.metrics.render(), "graft_flush_phase_ms_")

    def scan(name: String): (Double, Long, String) = tracer.span(name) { id =>
      spark.sparkContext.setLocalProperty("perfbench.span", id)
      val t0 = System.nanoTime()
      try { val (n, h) = fingerprint(EventTable.readCommitted(spark, root)); (secs(t0), n, h) }
      finally spark.sparkContext.setLocalProperty("perfbench.span", null)
    }
    val pre        = scan("scan.pre_compact")
    val c          = new IcebergCommitter(TableIO.forRoot(root), EventTable.Topic)
    val filesBefore = c.activeDataFiles()
    val shapeBefore = tableShape(root)
    val tC = System.nanoTime()
    tracer.span("compact") { id =>
      spark.sparkContext.setLocalProperty("perfbench.span", id)
      // the default run cap (maxFilesPerRun = 10) skips every partition
      // directory of this backlog (one file per trigger each); lift it so
      // the one call rewrites the whole table
      try Compaction.compact(spark, root, Compaction.Config(maxFilesPerRun = filesBefore.size))
      finally spark.sparkContext.setLocalProperty("perfbench.span", null)
    }
    val compactS   = secs(tC)
    val filesAfter = c.activeDataFiles()
    val post       = scan("scan.post_compact")
    val timedCpuMs = cpuMs() - cpu0
    val beforeSet  = filesBefore.map(_.filePath).toSet
    val afterSet   = filesAfter.map(_.filePath).toSet
    val written    = filesAfter.filterNot(f => beforeSet(f.filePath))

    // output checks: one row per distinct key, dense per-partition sequences
    val committed = EventTable.readCommitted(spark, root)
    val perPart = committed.groupBy("partition")
      .agg(min("sequence"), max("sequence"), count(lit(1)), countDistinct("idempotency_key"))
      .collect().map(r => Map("partition" -> r.getInt(0), "min" -> r.getLong(1), "max" -> r.getLong(2),
        "rows" -> r.getLong(3), "keys" -> r.getLong(4))).toSeq.sortBy(_("partition").asInstanceOf[Int])

    Map(
      "mode" -> "stream", "setup_s" -> staged.map(s => ctx.sessionS + s._1),
      "ingest_s" -> ingestS, "compact_s" -> compactS, "timed_cpu_ms" -> timedCpuMs,
      "pre_scan_s" -> pre._1, "post_scan_s" -> post._1,
      "pre_rows" -> pre._2, "pre_hash" -> pre._3, "post_rows" -> post._2, "post_hash" -> post._3,
      "partitions" -> perPart,
      "triggers" -> progress.map(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)),
      "trigger_rows" -> progress.map(_.numInputRows),
      "phases_ms" -> Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .map(k => k -> phase(k).sum).toMap,
      "state_commit_ms" -> stateOps.map(_.commitTimeMs).sum,
      "state_memory_bytes" -> (if (stateOps.isEmpty) 0L else stateOps.map(_.memoryUsedBytes).max),
      // numRowsTotal is 0 by construction (the ingester turns off
      // trackTotalNumberOfRows), so report the rows each trigger wrote
      "state_rows" -> stateOps.map(_.numRowsUpdated).sum,
      "flush_phase_ms" -> flushPhases,
      "compaction" -> Map("files_in" -> filesBefore.count(f => !afterSet(f.filePath)),
        "files_out" -> written.size, "bytes_rewritten" -> written.map(_.fileSizeInBytes).sum),
      "shape_before" -> shapeBefore, "shape_after" -> tableShape(root),
      "spark_ingest" -> afterRun.map { case (k, v) => k -> (v - base.getOrElse(k, 0L)) })
  }

  /** `name -> sum` of every `<prefix><name>_sum` histogram line of a render. */
  private def histogramSums(render: String, prefix: String): Map[String, Double] =
    render.linesIterator.collect {
      case l if l.startsWith(prefix) && l.split(' ')(0).endsWith("_sum") =>
        l.split(' ')(0).stripPrefix(prefix).stripSuffix("_sum") -> l.split(' ')(1).toDouble
    }.toMap

  // ----------------------------------------------------------- gateway_mixed

  /** The topic the generator writes (`inputs.TOPIC`). */
  private val Topic = "events"

  private def gateway(ctx: Ctx): Map[String, Any] = {
    import ctx._
    val dir     = work.resolve("gateway").toString
    val flushMs = opts("flush_ms").toLong
    val cfg = Serve.config(Map.empty).copy(port = 0, dataDir = dir, flushIntervalSecs = flushMs / 1000)
    val gw   = Serve.gateway(spark, cfg)
    val port = gw.start()
    val daemon = Serve.flushDaemon(gw, flushMs, maintain = cfg.autoMaintenance)
    daemon.start()
    Files.write(work.resolve("ready.json"), Json.obj("port" -> port).getBytes("UTF-8"))
    // block until the generator is done; it says so on stdin
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    var base = Map.empty[String, Long]
    var cpu0 = 0L
    while (line != null && line.trim != "finish") {
      if (line.trim == "mark") {
        base = counters(); cpu0 = cpuMs()
        Files.write(work.resolve("marked"), Array.emptyByteArray)
      }
      line = in.readLine()
    }
    val timedCpuMs = cpuMs() - cpu0
    val after      = counters()
    log("finish received")
    daemon.interrupt()
    daemon.join(120000L)
    log("daemon stopped")
    val tFinal = System.nanoTime()
    gw.flushNow(Topic) // the final flush the exactly-once check reads after
    val finalFlushS = secs(tFinal)
    log("final flush done")
    val root = s"$dir/$Topic"
    val dump = work.resolve("committed.csv")
    val rows = EventTable.readCommitted(spark, root)
      .select(col("partition"), col("sequence"), col("idempotency_key"), crc32(col("payload")).as("crc"))
      .collect()
    Files.write(dump, rows.map(r => s"${r.getInt(0)},${r.getLong(1)},${r.getString(2)},${r.getLong(3)}")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    log("committed rows dumped")
    val counts = Map("auto_vacuums" -> gw.metrics.counter("zombi_auto_vacuums_total"),
      "compactions" -> gw.metrics.counter("zombi_compactions_total"))
    val replay = if (tracer.enabled) replayBodies(work) else Map.empty[String, Any]
    gw.stop()
    Map(
      "mode" -> "gateway", "final_flush_s" -> finalFlushS, "timed_cpu_ms" -> timedCpuMs,
      "committed_rows" -> rows.length, "counters" -> counts,
      "shape" -> tableShape(root),
      "spark_run" -> after.map { case (k, v) => k -> (v - base.getOrElse(k, 0L)) },
      "replay" -> replay)
  }

  /** Replays the run's own bulk request bodies (`requests.bin`, written by
    * the generator) through the gateway's public building blocks, one layer
    * at a time: protobuf decode, hot-buffer insert without WAL, WAL append,
    * and the Arrow encoding of 100-event read pages. */
  private def replayBodies(work: Path): Map[String, Any] = {
    val buf    = java.nio.ByteBuffer.wrap(Files.readAllBytes(work.resolve("requests.bin")))
    val protos = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val jsons  = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (buf.remaining() > 0) {
      val kind = buf.get(); val n = buf.getInt(); val b = new Array[Byte](n); buf.get(b)
      if (kind == 1) protos += b else jsons += b
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def timeNs[T](f: => T): (T, Long) = { val t0 = System.nanoTime(); val r = f; (r, System.nanoTime() - t0) }
    // one untimed pass first so the timed pass measures JIT-compiled code
    protos.foreach(ProtoCodec.decodeBulkRequest)
    val (decoded, decodeNs) = timeNs(protos.map(ProtoCodec.decodeBulkRequest).toSeq)
    val protoEvents = decoded.map(_.size).sum
    val records: Seq[Seq[(Array[Byte], Int, Long, Option[String])]] =
      decoded.map(_.map(r => (r.payload, r.partition, r.timestampMs, r.idempotencyKey))) ++
        jsons.map { b =>
          mapper.readTree(b).get("records").elements().asScala.map { r =>
            (r.get("payload").asText.getBytes("UTF-8"), r.get("partition").asInt, r.get("timestamp_ms").asLong,
              Option(r.get("idempotency_key")).map(_.asText))
          }.toSeq
        }
    val nEvents = records.map(_.size).sum
    new HotBuffer(None).writeBulk("warm", records.head)
    val hb = new HotBuffer(None)
    val (_, insertNs) = timeNs(records.foreach(hb.writeBulk("events", _)))
    val stored = hb.partitions("events").flatMap(p => hb.readPartition("events", p, 0L, Int.MaxValue))
    val walDir = work.resolve("replay-wal")
    val wal = new WriteAheadLog(walDir)
    val (_, walNs) = timeNs(stored.grouped(100).foreach(g => wal.appendEvents(g)))
    wal.close()
    val pages = stored.grouped(100).toSeq
    pages.take(50).foreach(ArrowOutput.encodeEvents(_, ArrowOutput.KnownColumns))
    val (_, arrowNs) = timeNs(pages.foreach(ArrowOutput.encodeEvents(_, ArrowOutput.KnownColumns)))
    Map(
      "proto_events" -> protoEvents, "proto_decode_ns" -> decodeNs,
      "events" -> nEvents, "stored" -> stored.size, "insert_ns" -> insertNs,
      "wal_ns" -> walNs, "wal_bytes" -> dirBytes(walDir),
      "arrow_events" -> stored.size, "arrow_ns" -> arrowNs)
  }
}
