package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** One benchmark run inside one JVM: the closed loop over a query list.
  *
  *   Runner SF_DIR QUERY_FILE OUT_DIR TRACE(0|1) CORES CHECK(0|1)
  *   Runner --list            (prints the registry names, one a line)
  *   Runner --oracle FILE     (writes the oracle SQL of every name as JSON)
  *
  * QUERY_FILE holds one registry name per line, in issue order. Each query
  * is built with `SparkEntry.queries(name)` (the construct phase) and run
  * with the noop-write action `graft.Bench` times (the action phase); the
  * isolation between queries (cache release, CLEAR CACHE, GC) is untimed.
  * With CHECK=1 every distinct query first runs once untimed, before the
  * first timed query, writing its result to OUT_DIR/check/<name> for the
  * oracle compare; those executions are also the per-query warm-up
  * graft.Bench runs, so timed executions start with warm code and, after
  * the isolation, cold caches.
  *
  * Every record goes to OUT_DIR/records.jsonl as one JSON object per line.
  * Times are epoch milliseconds so driver-side windows and listener events
  * share one clock. With TRACE=1 a SparkListener and a QueryExecutionListener
  * record jobs, stages, SQL executions and Catalyst phases, each tagged with
  * the query and phase through a job tag set before construction and
  * switched before the action, and the parse-only probe of the sources
  * layer runs after the loop.
  */
object Runner {
  private val records = new ConcurrentLinkedQueue[String]()
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock. */
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }
  def emit(kind: String, fields: (String, Any)*): Unit =
    records.add(js(Map(("kind" -> kind) +: fields: _*)))

  /** Job tag naming the query execution and its phase. */
  def tag(i: Int, phase: String): String = s"pb:$i:$phase"

  /** Listener side of the traced run: raw job, stage, SQL-execution and
    * Catalyst records; the spans and self times are built from them after
    * the run.
    */
  class Tracer extends SparkListener with QueryExecutionListener {
    private case class Acc(var tasks: Int = 0, var busyMs: Long = 0,
      var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var swBytes: Long = 0, var srBytes: Long = 0, var spill: Long = 0,
      var fetchWaitMs: Long = 0)
    private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Acc]()
    private def tags(p: java.util.Properties): Seq[String] =
      Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
        .map(_.split(',').toSeq.filter(_.startsWith("pb:"))).getOrElse(Nil)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      emit("job_start", "id" -> e.jobId, "t" -> e.time.toDouble,
        "tags" -> tags(e.properties), "stages" -> e.stageIds,
        "sql" -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit("job_end", "id" -> e.jobId, "t" -> e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => Acc())
      a.synchronized {
        a.tasks += 1
        a.busyMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.swBytes += m.shuffleWriteMetrics.bytesWritten
          a.srBytes += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = Option(stages.remove((i.stageId, i.attemptNumber()))).getOrElse(Acc())
      emit("stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start" -> i.submissionTime.map(_.toDouble),
        "end" -> i.completionTime.map(_.toDouble), "tasks" -> a.tasks,
        "busy_ms" -> a.busyMs, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "shuffle_write" -> a.swBytes,
        "shuffle_read" -> a.srBytes, "spill" -> a.spill,
        "fetch_wait_ms" -> a.fetchWaitMs)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        emit("sql_start", "id" -> s.executionId, "root" -> s.rootExecutionId,
          "t" -> s.time.toDouble, "tags" -> s.jobTags.filter(_.startsWith("pb:")))
      case s: SparkListenerSQLExecutionEnd =>
        emit("sql_end", "id" -> s.executionId, "t" -> s.time.toDouble)
      case _ =>
    }
    private def phases(qe: QueryExecution, ok: Boolean): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      emit("catalyst", "t" -> p.values.map(_.startTimeMs).minOption
          .map(_.toDouble), "ok" -> ok, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe, ok = false)
  }

  private def exec(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Drops every cache a query left, so the next execution starts cold. */
  private def release(spark: SparkSession): Unit = {
    graft.core.Caches.releaseAll()
    spark.sql("CLEAR CACHE")
  }

  /** The untimed isolation `graft.Bench` applies between queries. The GC
    * repeats, 150 ms apart, while the heap still shrinks by more than 4 MB:
    * the ContextCleaner frees a dead broadcast only after a GC has seen it,
    * so one GC can leave a large one behind. Returns the heap left, the
    * driver's live set.
    */
  private def isolate(spark: SparkSession): Long = {
    release(spark)
    def usedAfterGc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var cur = usedAfterGc()
    var rounds = 0
    while (prev - cur > (4L << 20) && rounds < 10) {
      Thread.sleep(150)
      prev = cur
      cur = usedAfterGc()
      rounds += 1
    }
    cur
  }

  /** Parse-only rate of the sources layer: the byte columns of the five
    * rows with a parse-bytes probe are synthesized and persisted untimed
    * (their synth time reported next to the rate), then only the public
    * parser column is timed over them.
    */
  private def parseProbe(spark: SparkSession, sf: String, cores: Int): Unit = {
    import graft.multimodal.Pdf
    import graft.sources.{Archives, Avro, Office, Tables, Warc}
    val docs = Tables.load(spark, sf, "documents").repartition(cores)
    def perDoc(synth: Column => Column): DataFrame =
      docs.select(synth(col("doc_id")).as("b"))
    // the WARC row parses one crawl file per shard: 48 shards of documents
    // with the same record mix as q329
    val warc = docs.select(col("doc_id"), col("text"),
        (col("doc_id") % lit(48L)).as("bucket"),
        when(col("doc_id") % 2 === 0, lit("response"))
          .otherwise(lit("conversion")).as("rec_type"),
        when(col("doc_id") % 10 === 4, lit(404)).otherwise(lit(200)).as("status"),
        when(col("doc_id") % 3 === 0, lit("text/html"))
          .otherwise(lit("text/plain")).as("ctype"))
      .withColumn("body", when(col("rec_type") === "response" &&
        col("status") === 404, lit("gone")).otherwise(col("text")))
      .groupBy("bucket").agg(sort_array(collect_list(struct(
        concat(lit("urn:graft:doc:"), col("doc_id")).as("uri"),
        col("body").as("text"), col("rec_type"), col("status"), col("ctype"))))
        .as("docs"))
      .select(Warc.buildCrawlCol(col("docs")).as("b"))
    val formats = Seq(
      ("warc", warc, Warc.parseCrawlCol _),
      ("pdf", perDoc(Pdf.synthPdfCol), Pdf.pdfCol _),
      ("zip", perDoc(Archives.synthZipCol), Archives.zipEntriesCol _),
      ("xlsx", perDoc(Office.synthXlsxCol), Office.xlsxCellsCol _),
      ("avro", perDoc(Avro.synthAvroCol), Avro.avroCol _))
    formats.foreach { case (name, synthDf, parser) =>
      spark.sparkContext.addJobTag(s"pb:probe:$name")
      val t0 = now
      val bytes = synthDf.persist(StorageLevel.MEMORY_ONLY)
      bytes.count()
      val synthMs = now - t0
      val n = bytes.agg(sum(length(col("b")).cast("long"))).collect()(0).getLong(0)
      // the first pass warms the parser's code; the second is timed
      val parseMs = (1 to 2).map { _ =>
        val t = now
        exec(bytes.select(parser(col("b")).as("p")))
        now - t
      }
      bytes.unpersist(blocking = true)
      spark.sparkContext.clearJobTags()
      emit("probe", "format" -> name, "bytes" -> n, "synth_ms" -> synthMs,
        "parse_ms" -> parseMs.last)
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list"))) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    if (args.length == 2 && args(0) == "--oracle") {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
        js(SparkEntry.oracleSql))
      return
    }
    val Array(sf, queryFile, out, traceArg, coresArg, checkArg) = args
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val names = scala.io.Source.fromFile(queryFile).getLines()
      .map(_.trim).filter(_.nonEmpty).toVector
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }

    val registry = SparkEntry.queries
    // untimed first execution of every distinct query: writes its result for
    // the oracle compare and is the per-query warm-up graft.Bench runs; all
    // of them run before the first timed query, so no timed query pays the
    // JVM's own warm-up
    if (checkArg == "1") names.distinct.foreach { name =>
      emit("oracle", "name" -> name, "sql" -> SparkEntry.oracleSql.get(name))
      sc.addJobTag("pb:check")
      val error = try {
        registry(name)(spark, sf).write.mode("overwrite").parquet(s"$out/check/$name")
        None
      } catch { case NonFatal(e) => Some(e.toString.take(500)) }
      sc.clearJobTags()
      release(spark)
      emit("check", "name" -> name, "error" -> error)
    }
    // the timed action's own path (noop sink, AQE, shuffle) warmed on plans
    // of the run's tables that are not in the sample
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("warm_orders")
    spark.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("warm_lineitem")
    Seq("""SELECT o_orderpriority, count(*), sum(l_extendedprice * (1 - l_discount))
          |FROM warm_orders JOIN warm_lineitem ON o_orderkey = l_orderkey GROUP BY 1""",
        """SELECT o_custkey, rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice)
          |FROM warm_orders""").foreach(q => exec(spark.sql(q.stripMargin)))
    isolate(spark)
    names.zipWithIndex.foreach { case (name, i) =>
      sc.addJobTag(tag(i, "construct"))
      val t0 = now
      var tBuilt = Double.NaN
      val error: Option[String] = try {
        val df = registry.get(name) match {
          case Some(fn) => fn(spark, sf)
          case None => throw new NoSuchElementException(s"$name is not in SparkEntry.queries")
        }
        tBuilt = now
        sc.removeJobTag(tag(i, "construct"))
        sc.addJobTag(tag(i, "action"))
        exec(df)
        None
      } catch {
        case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
      val t1 = now
      sc.clearJobTags()
      val rdds = sc.getPersistentRDDs.size
      val stored = sc.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum
      val live = isolate(spark)
      emit("query", "i" -> i, "name" -> name, "start" -> t0,
        "built" -> (if (tBuilt.isNaN) None else Some(tBuilt)), "end" -> t1,
        "error" -> error, "heap_bytes" -> live,
        "persisted_rdds" -> rdds, "storage_bytes" -> stored)
    }

    if (trace) parseProbe(spark, sf, cores)
    // stop() drains the listener bus, so every event is recorded below
    spark.stop()
    val w = new PrintWriter(s"$out/records.jsonl", "UTF-8")
    try records.asScala.foreach(w.println) finally w.close()
  }
}
