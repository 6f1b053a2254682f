package perfbench

import graft.SparkEntry
import graft.operators.Replay
import graft.sources.{GraftLogProvider, GraftLogRange, GraftLogReaderFactory}
import graft.streaming.{EventStreamPipeline, EventStreamRegistry, ServiceShell, StreamCoordinator}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The service process the benchmark drives from outside.
  *
  * `BenchService <workload> <workDir> <trace 0|1> <cpus>` builds one
  * SparkSession and then serves the workload:
  *
  *   - `live_tail` / `replay_catchup`: the real [[ServiceShell]] over
  *     GraftLog directories under `<workDir>/logs/<routingKey>`. Clients
  *     connect over loopback from the benchmark's own process.
  *   - `event_batch`: the event-family queries of [[SparkEntry.queries]].
  *     A cold pass writes every result as parquet (checked against the
  *     DuckDB oracle by the caller); timed passes materialize with the
  *     noop sink.
  *
  * Protocol: one JSON object per stdout line, prefixed with `@@ `; one
  * tab-separated command per stdin line. With tracing on, listeners record progress
  * events and Spark jobs in memory; `dump` writes them out.
  */
object BenchService {
  /** The batch query set: the event-family queries plus the two
    * envelope round-trip queries that share their per-record expressions.
    */
  val BatchQueries: Seq[String] =
    (graft.operators.EventQueries.defs.keys.toSeq ++
      Seq("p_variant_extract", "p_prototext_roundtrip")).sorted

  /** Untimed noop passes after the cold pass, before the timed ones. */
  val WarmPasses = 1

  private def emit(json: String): Unit = synchronized {
    System.out.println("@@ " + json)
    System.out.flush()
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def main(args: Array[String]): Unit = {
    val Array(workload, work, traceArg, cpus) = args
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (traceArg == "1") Some(new Tracer(spark)) else None

    var shell: ServiceShell = null
    workload match {
      case "live_tail" | "replay_catchup" =>
        val logs = s"$work/logs"
        val sourceFor: String => DataFrame =
          if (workload == "live_tail") rk => Replay.logStream(spark, s"$logs/$rk", Replay.Next)
          // the handshake's replay spec only reaches the in-plan seek
          // filter, so a replaying consumer needs an earliest source
          else rk => spark.readStream.format(classOf[GraftLogProvider].getName)
            .option("path", s"$logs/$rk").load()
        shell = new ServiceShell(spark, new EventStreamRegistry, new StreamCoordinator, sourceFor)
        shell.start()
        emit(s"""{"ready":1,"http":${shell.httpPort},"ws":${shell.wsPort},"pid":${ProcessHandle.current.pid}}""")
      case "event_batch" =>
        val t0 = System.nanoTime()
        // set-up runs `cpus` queries at a time: a cold pass whose results
        // the DuckDB oracle checks, then WarmPasses noop passes so the
        // timed passes start warm
        val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus.toInt)
        def parallelPass(write: (String, DataFrame) => Unit): Seq[String] =
          BatchQueries.map { name =>
            pool.submit(() =>
              try { write(name, SparkEntry.queries(name)(spark, s"$work/data")); None }
              catch { case e: Exception => Some(Json.str(s"$name: ${e.toString.take(300)}")) })
          }.flatMap(_.get())
        val coldErrors = try {
          parallelPass((name, df) => df.write.mode("overwrite").parquet(s"$work/out/$name")) ++
            (1 to WarmPasses).flatMap(_ =>
              parallelPass((_, df) => df.write.format("noop").mode("overwrite").save()))
        } finally pool.shutdown()
        val oracle = BatchQueries.map(n =>
          "\"" + n + "\":" + Json.str(SparkEntry.oracleSql(n))).mkString("{", ",", "}")
        Files.write(Paths.get(s"$work/out/oracle_sql.json"), oracle.getBytes(UTF_8))
        emit(f"""{"ready":1,"cold_pass_s":${(System.nanoTime() - t0) / 1e9}%.4f,""" +
          s""""cold_errors":${coldErrors.mkString("[", ",", "]")},"pid":${ProcessHandle.current.pid}}""")
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    var line = in.readLine()
    while (line != null && line != "stop") {
      // tab-separated, so paths may hold spaces
      val cmd = line.split("\t").toSeq
      cmd.head match {
        case "mark" =>
          emit(s"""{"gc_ms":$gcMillis,"wall_ms":${System.currentTimeMillis()}}""")
        case "gc" =>
          // Spark's ContextCleaner drops shuffle and broadcast state only
          // after a GC has collected their handles, so collect again once
          // it has had time to run
          (1 to 2).foreach { _ => System.gc(); Thread.sleep(300) }
          System.gc()
          val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
          emit(f"""{"heap_mb":${used / 1048576.0}%.4f}""")
        case "passes" => runPasses(spark, work, cmd(1).toDouble, cmd(2).toInt)
        case "enrich" => emit(timeEnrich(spark, cmd(1), cmd(2).toInt))
        case "readranges" => emit(readRanges(cmd(1), cmd(2)))
        case "batches" =>
          // traced replay cycles wait for their batch's progress event
          // before closing, so the stop does not cut the trigger short
          val target = cmd(1).toLong
          val deadline = System.currentTimeMillis() + cmd(2).toLong
          def count = tracer.map(_.dataBatchCount).getOrElse(0L)
          while (count < target && System.currentTimeMillis() < deadline) Thread.sleep(5)
          emit(s"""{"batches":$count}""")
        case "dump" =>
          tracer.foreach(_.dump(cmd(1)))
          emit("""{"dumped":1}""")
        case other => emit(s"""{"error":${Json.str("unknown command " + other)}}""")
      }
      line = in.readLine()
    }
    if (shell != null) shell.stop()
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    spark.stop()
  }

  /** Timed passes over the batch query set until `seconds` have elapsed
    * and at least `minPasses` ran; whole passes only. Each query splits
    * into build (the query function: DataFrame construction), plan
    * (executedPlan) and execute (noop write), reported in seconds with
    * the query's epoch-millisecond start. A query that throws is reported
    * with its error instead.
    */
  private def runPasses(spark: SparkSession, work: String, seconds: Double,
                        minPasses: Int): Unit = {
    val sc = spark.sparkContext
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val parts = BatchQueries.map { name =>
        def phase(p: String): Unit = sc.setLocalProperty(Tracer.PhaseKey, s"$pass:$name:$p")
        try {
          phase("build")
          val wall = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, s"$work/data")
          val t1 = System.nanoTime()
          phase("plan")
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          phase("execute")
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          f""""$name":[${(t1 - t0) / 1e9}%.6f,${(t2 - t1) / 1e9}%.6f,${(t3 - t2) / 1e9}%.6f,$wall]"""
        } catch {
          case e: Exception => s""""$name":{"error":${Json.str(e.toString.take(300))}}"""
        } finally sc.setLocalProperty(Tracer.PhaseKey, null)
      }
      emit(s"""{"pass":$pass,"queries":${parts.mkString("{", ",", "}")}}""")
      pass += 1
    }
    emit(s"""{"passes_done":$pass}""")
  }

  /** Envelope layer probe: [[EventStreamPipeline.enrich]] over a log read
    * as a batch table, fully materialized; median of `reps` timed runs
    * after one warm-up run.
    */
  private def timeEnrich(spark: SparkSession, dir: String, reps: Int): String = {
    val df = spark.read.format(classOf[GraftLogProvider].getName).option("path", dir).load()
    val enriched = EventStreamPipeline.enrich(df)
    val rows = df.count()
    enriched.write.format("noop").mode("overwrite").save()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      enriched.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    f"""{"enrich_rows":$rows,"enrich_s":${times(times.size / 2)}%.6f}"""
  }

  /** Source layer probe: for each `dir<TAB>from<TAB>to` line of `inFile`, time
    * `GraftLogReaderFactory.createReader(GraftLogRange(dir, from, to))`
    * and count the rows it returns. Writes `rows seconds` per line.
    */
  private def readRanges(inFile: String, outFile: String): String = {
    val ranges = Files.readAllLines(Paths.get(inFile), UTF_8).asScala.filter(_.nonEmpty)
    val out = ranges.map { l =>
      val Array(dir, from, to) = l.split("\t")
      val t0 = System.nanoTime()
      val reader = GraftLogReaderFactory.createReader(GraftLogRange(dir, from.toLong, to.toLong))
      var rows = 0L
      while (reader.next()) { reader.get(); rows += 1 }
      reader.close()
      f"$rows ${(System.nanoTime() - t0) / 1e9}%.6f"
    }
    Files.write(Paths.get(outFile), out.mkString("\n").getBytes(UTF_8))
    s"""{"ranges":${out.size}}"""
  }
}

/** Minimal JSON string escaping for the dump and protocol lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"').toString
  }
}
