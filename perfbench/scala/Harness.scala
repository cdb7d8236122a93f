package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkEntry
import graft.sources.Sources

/** JVM side of the benchmark. The launcher (`perfbench/run.py`) draws
  * the workload from the seed, starts one fresh JVM per run with
  *
  * {{{
  *   perfbench.Harness list <out.json>
  *   perfbench.Harness run <config.json> <out.json>
  * }}}
  *
  * and checks every output this class writes after the JVM has exited.
  * Each layer is timed from outside, around its public entry point:
  * `SparkEntry.queries(name)(spark, dir)` and the action on its frame,
  * the `graft.sources.Sources` table functions, and the
  * `graft-sharded-cdc` stream source. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val rowSchema = StructType(Seq(StructField("id", LongType, false),
    StructField("grp", StringType, false), StructField("val", LongType, false)))

  def main(args: Array[String]): Unit = args(0) match {
    case "list" =>
      val names = SparkEntry.queries.keys.toSeq.sorted
      write(Paths.get(args(1)), Map("queries" -> names,
        "oracle" -> SparkEntry.oracleSql))
    case "run" =>
      val cfg = mapper.readTree(Paths.get(args(1)).toFile)
      write(Paths.get(args(2)), new Run(cfg).execute())
  }

  def write(p: Path, v: Any): Unit =
    Files.write(p, mapper.writeValueAsBytes(v))

  private def rssMb(key: String): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** One run: a cold set-up from JVM start, then (unless the config asks
    * for the set-up only) a closed timed loop with one client, then the
    * untimed output dump for the correctness gate. */
  final class Run(cfg: JsonNode) {
    private val runDir = cfg.get("run_dir").asText
    private val trace = cfg.get("trace").asBoolean
    private val spans = new Spans(cfg.get("run_id").asText)
    private val ops = ArrayBuffer.empty[Map[String, Any]]
    private var heapMaxMb = 0.0
    private var spark: SparkSession = _
    private var tracer: Tracer = _

    private def session(): SparkSession = {
      val cpus = cfg.get("cpus").asInt
      val b = SparkSession.builder().master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$runDir/spark-local")
        .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      if (trace) b.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      if (trace) org.apache.hadoop.fs.FileSystem.closeAll()
      s
    }

    private def seq(key: String): Seq[JsonNode] =
      Option(cfg.get(key)).map(_.elements.asScala.toSeq).getOrElse(Nil)

    private def cpuS(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

    def execute(): Map[String, Any] = {
      val chain = cfg.get("workload").asText == "table_chain"
      // set-up, from JVM start: the query registry, the session and the
      // fixed warm-up, each phase timed
      var mark = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val phases = ArrayBuffer.empty[(String, Double)]
      def lap(name: String): Unit = {
        val now = System.currentTimeMillis()
        phases += name -> (now - mark) / 1000.0
        mark = now
      }
      lap("jvm_start")
      val registry = if (chain) null else SparkEntry.queries
      lap("registry")
      spark = session()
      lap("session")
      val warmups = seq("warmups")
      if (chain) warmChain(s"$runDir/warm", warmups)
      else warmups.foreach(n =>
        try registry(n.asText)(spark, cfg.get("sf_dir").asText)
          .write.mode("overwrite").format("noop").save()
        catch { case _: Exception => () })
      lap("warmup")
      val setup = Map("setup_s" -> phases.map(_._2).sum, "setup_phases" -> phases.toMap,
        "peak_rss_mb" -> rssMb("VmHWM"))
      if (cfg.path("setup_only").asBoolean(false)) { spark.stop(); return setup }
      if (trace) { CodegenLog.install(); tracer = new Tracer(spark) }
      val gcBefore = gcMs()
      val cpu0 = cpuS()
      val t0 = System.nanoTime()
      val extra: Map[String, Any] = if (chain) runChain() else runQueries(registry)
      val timedS = (System.nanoTime() - t0) / 1e9
      val timedCpuS = cpuS() - cpu0
      val tracedOut: Map[String, Any] = if (!trace) Map.empty else Map(
        "job_intervals" -> tracer.jobIntervals.map(p => Seq(p._1, p._2)),
        "timed_wall_ms" -> Seq(System.currentTimeMillis() - timedS * 1000,
          System.currentTimeMillis().toDouble),
        "jvm.gc_ms" -> (gcMs() - gcBefore),
        "jvm.heap_used_mb" -> heapMaxMb)
      val result = setup ++ Map(
        "env" -> Map("spark_version" -> spark.version,
          "cpus" -> cfg.get("cpus").asInt,
          "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
        "timed_s" -> timedS, "timed_cpu_s" -> timedCpuS, "ops" -> ops.toSeq,
        "peak_rss_mb" -> rssMb("VmHWM")) ++ extra ++ tracedOut
      val d0 = System.nanoTime()
      val dumped = (if (chain) replicaOut() else dumpOutputs()) ++
        Map("dump_s" -> (System.nanoTime() - d0) / 1e9)
      if (trace) write(Paths.get(s"$runDir/spans.json"), spans.all.map(s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "run_id" -> s.runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      spark.stop()
      result ++ dumped
    }

    private def gcMs(): Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

    /** Heap in use after the latest collection, over all heap pools. */
    private def liveHeapMb(): Double = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

    private def frameAnalysisMs(df: DataFrame): Double =
      df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble)
        .getOrElse(0.0)

    /** Runs `body` as one timed op; in traced runs also records the
      * counter deltas it caused. */
    private def op(kind: String, name: String, fields: Map[String, Any] = Map.empty)
                  (body: => Map[String, Any]): Map[String, Any] = {
      val before = if (trace) tracer.snapshot() else Map.empty[String, Double]
      if (trace) tracer.phases.last = None
      val cpu0 = cpuS()
      val t0 = System.nanoTime()
      val (ok, err, raw) =
        try { val o = spans(s"op.$kind")(body); (true, "", o) }
        catch { case e: Throwable =>
          (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400),
            Map.empty[String, Any]) }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (cpuS() - cpu0) * 1000
      val out = (raw.get("collected") match {
        case Some(rows: Array[Row] @unchecked) => raw - "collected" + ("digest" -> digest(rows))
        case _ => raw
      }) - "frame_analysis_ms"
      val layers: Map[String, Any] = if (!trace) Map.empty else {
        val after = tracer.snapshot()
        heapMaxMb = math.max(heapMaxMb, liveHeapMb())
        // analysis is the frame's eager analysis (at build) plus the action's
        val action = tracer.phases.last.getOrElse(Map.empty)
        val built = raw.get("frame_analysis_ms").collect { case d: Double => d }.getOrElse(0.0)
        Map("layers" -> (after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } ++
          action.map { case (k, v) => s"catalyst.$k" -> v } ++
          Map("catalyst.analysis_ms" -> (action.getOrElse("analysis_ms", 0.0) + built))))
      }
      val rec = Map("kind" -> kind, "name" -> name, "ms" -> ms, "cpu_ms" -> cpuMs, "ok" -> ok,
        "error" -> err) ++ fields ++ out ++ layers
      ops += rec
      rec
    }

    // ---- queries_small / queries_large --------------------------------

    private val frames = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

    private def runQueries(registry: Map[String, (SparkSession, String) => DataFrame])
        : Map[String, Any] = {
      val dir = cfg.get("sf_dir").asText
      seq("timed").map(_.asText).foreach { name =>
        op("query", name) {
          val b0 = System.nanoTime()
          val df = spans("entry")(registry(name)(spark, dir))
          val buildMs = (System.nanoTime() - b0) / 1e6
          frames(name) = df
          spans("action")(df.write.mode("overwrite").format("noop").save())
          Map("build_ms" -> buildMs, "frame_analysis_ms" -> frameAnalysisMs(df))
        }
      }
      Map.empty
    }

    /** Untimed: every query that ran writes its output as one parquet
      * file for the launcher's DuckDB check, `cpus` queries at a time. */
    private def dumpOutputs(): Map[String, Any] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val out = s"$runDir/outputs"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.get("cpus").asInt)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val failed = Await.result(Future.sequence(frames.toSeq.map { case (name, df) =>
          Future {
            try { df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name"); None }
            catch { case e: Throwable => Some(name -> String.valueOf(e.getMessage).take(400)) }
          }
        }), Duration.Inf).flatten
        Map("outputs_dir" -> out, "dump_failures" -> failed.toMap)
      } finally pool.shutdown()
    }

    // ---- table_chain --------------------------------------------------

    private def rowsDf(rows: JsonNode): DataFrame = spark.createDataFrame(
      rows.elements.asScala.map(r =>
        Row(r.get(0).asLong, r.get(1).asText, r.get(2).asLong)).toSeq.asJava,
      rowSchema)

    private def range(o: JsonNode) =
      col("id").between(o.get("lo").asLong, o.get("hi").asLong)

    /** A read op: the `Sources` call builds the frame, `collect` runs it. */
    private def read(build: => DataFrame): (DataFrame, Map[String, Any]) = {
      val b0 = System.nanoTime()
      val df = spans("entry")(build)
      (df, Map("build_ms" -> (System.nanoTime() - b0) / 1e6,
        "frame_analysis_ms" -> frameAnalysisMs(df)) ++ readOut(df))
    }

    /** Collects the rows; `op` replaces them by their digest once the
      * op's interval has ended. */
    private def readOut(df: DataFrame): Map[String, Any] = {
      val rows = spans("action")(df.select("id", "grp", "val").collect())
      Map("rows" -> rows.length, "collected" -> rows)
    }

    private def digest(rows: Array[Row]): String = {
      val text = rows.map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getLong(2)}")
        .sortBy(_.split('|')(0).toLong).mkString("\n")
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }

    private val commitEnd = scala.collection.mutable.Map.empty[Int, Long]
    private val commitKinds = Set("write", "append", "merge", "update",
      "delete_where", "compact", "expire")

    /** One chain op on the table at `path`; returns the op record. */
    private def chainOp(path: String, o: JsonNode, idx: Int): Map[String, Any] = {
      val kind = o.get("kind").asText
      val shards = if (kind == "write") 4 else 2
      val stats = Seq("id")
      val isCommit = commitKinds(kind)
      val before = if (trace && isCommit) dirStats(path) else (0L, 0L)
      var pruned: Option[DataFrame] = None
      val rec = op(if (isCommit) "commit" else "read", kind, Map("index" -> idx)) {
        val S = Sources
        def version(v: => Long) = Map("version" -> spans(s"sources.$kind")(v))
        kind match {
          case "write" => version(S.writeShardedTable(rowsDf(o.get("rows")), col("id"),
            col("id"), path, shards, stats))
          case "append" => version(S.appendShardedTable(rowsDf(o.get("rows")), col("id"),
            col("id"), path, shards, stats))
          case "merge" => version(S.mergeShardedTable(rowsDf(o.get("rows")), "id",
            col("id"), path, shards, stats))
          case "update" => version(S.updateShardedTable(spark, path, "id", range(o),
            Seq("val" -> (col("val") + o.get("delta").asLong)), col("id"), shards, stats))
          case "delete_where" => version(S.deleteWhereShardedTable(spark, path, "id",
            range(o)))
          case "compact" => version(S.compactShardedTable(spark, path, col("id"),
            col("id"), shards, stats, o.get("small_dir_rows").asLong))
          case "expire" => Map("expired" -> spans("sources.expire")(
            S.expireShardedSnapshots(spark, path, o.get("keep").asInt).size))
          case "read_where" =>
            val (df, out) = read(S.readShardedTableWhere(spark, path, range(o)))
            pruned = Some(df)
            out
          case "read_asof" =>
            val ts = commitEnd(o.get("at").asInt)
            read(S.readShardedTableAsOf(spark, path, ts))._2
          case "read_full" => read(S.readShardedTable(spark, path))._2
        }
      }
      if (isCommit) commitEnd(idx) = System.currentTimeMillis()
      // traced only, after the op's interval: files a commit added, and
      // the data files a pruned read scans against the manifest's leaves
      if (trace && isCommit) {
        val after = dirStats(path)
        ops(ops.size - 1) = rec ++ Map("files_added" -> (after._1 - before._1),
          "bytes_added" -> (after._2 - before._2))
      }
      if (trace) pruned.foreach { df =>
        val kept = df.inputFiles.count(f => f.contains("/data-v") && f.endsWith(".parquet"))
        val mf = Sources.shardedManifest(spark, path)
        val data = if (mf.columns.contains("kind")) mf.filter(col("kind") === "data") else mf
        val total = data.filter(col("shard") >= 0).count()
        ops(ops.size - 1) = rec ++ Map("leaves_kept" -> kept, "leaves_total" -> total)
      }
      rec
    }

    /** (regular files, bytes) under a directory, read with java.nio so the
      * traced file-system counters do not see it. */
    private def dirStats(p: String): (Long, Long) = {
      val root = Paths.get(p)
      if (!Files.exists(root)) (0L, 0L) else {
        val s = Files.walk(root)
        try s.iterator.asScala.filter(Files.isRegularFile(_))
          .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
        finally s.close()
      }
    }

    /** The fixed warm-up: a small table written, then one pruned read. */
    private def warmChain(path: String, w: Seq[JsonNode]): Unit =
      try {
        Sources.writeShardedTable(rowsDf(w.head.get("rows")), col("id"), col("id"),
          path, 4, Seq("id"))
        Sources.readShardedTableWhere(spark, path, range(w(1))).collect()
      } catch { case _: Exception => () }

    /** The chain's commits and reads, then CDC replication: the initial
      * load plus one commit-and-drain round per CDC op. */
    private def runChain(): Map[String, Any] = {
      val path = s"$runDir/tables/t"
      val replica = s"$runDir/tables/replica"
      val chainOps = seq("ops")
      chainOps.zipWithIndex.foreach { case (o, i) => chainOp(path, o, i) }
      val executed = chainOps.size
      val windows = ArrayBuffer.empty[Map[String, Any]]
      val q = spark.readStream.format("graft-sharded-cdc").option("path", path).load()
        .writeStream.foreachBatch(applyBatch(replica) _)
        .option("checkpointLocation", s"$runDir/ckpt").start()
      var cdcDone = 0
      try {
        def window(): Unit = op("window", "cdc") {
          spans("streaming.window")(q.processAllAvailable()); Map.empty }
        window()
        val cdcOps = seq("cdc_ops")
        while (cdcDone < cdcOps.size) {
          chainOp(path, cdcOps(cdcDone), chainOps.size + cdcDone)
          cdcDone += 1
          window()
        }
      } finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        windows += Map("rows" -> p.numInputRows,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
      Map("ops_executed" -> executed, "cdc_ops_executed" -> cdcDone,
        "windows" -> windows.toSeq)
    }

    /** Untimed: the replica's rows for the model check, and the table's
      * bytes on disk. */
    private def replicaOut(): Map[String, Any] = {
      val rep =
        try {
          val rows = Sources.readShardedTable(spark, s"$runDir/tables/replica")
            .select("id", "grp", "val").collect()
          Map("rows" -> rows.length, "digest" -> digest(rows))
        } catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(400)) }
      Map("replica" -> rep, "table_bytes" -> dirStats(s"$runDir/tables/t")._2)
    }

    /** The replication sink: per commit version, deletes first, then the
      * inserts as an upsert; the first batch creates the replica. */
    private def applyBatch(replica: String)(b: DataFrame, id: Long): Unit = {
      val cached = b.persist()
      try {
        val counts = cached.groupBy(col("_commit_version"), col("_change_type"))
          .count().collect()
          .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
        counts.keys.map(_._1).toSeq.distinct.sorted.foreach { v =>
          val w = cached.filter(col("_commit_version") === v)
          val dels = w.filter(col("_change_type") === "delete").select(col("id"))
          val ins = w.filter(col("_change_type") === "insert")
            .select(col("id"), col("grp"), col("val"))
          val hasDels = counts.getOrElse((v, "delete"), 0L) > 0L
          val hasIns = counts.getOrElse((v, "insert"), 0L) > 0L
          if (Sources.shardedVersions(spark, replica).isEmpty) {
            if (hasIns) Sources.writeShardedTable(ins, col("id"), col("id"),
              replica, 4, Seq("id"))
          } else {
            if (hasDels) Sources.deleteFromShardedTable(spark, replica, "id", dels)
            if (hasIns) Sources.mergeShardedTable(ins, "id", col("id"), replica, 2,
              Seq("id"))
          }
        }
      } finally { cached.unpersist(); () }
    }
  }
}
