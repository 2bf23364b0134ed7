package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Row, SparkSession}

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Runs one generated workload plan through the engine's SQL front door,
  * `graft.Engine.sql`, as one closed-loop client: each statement is sent
  * only after the previous one returned.
  *
  * The plan (written by `perfbench/run.py`) carries the set-up statements
  * of each set-up repetition, the warm-up operations, the timed operation
  * stream and the check statements. The driver knows nothing about the
  * workloads: it times statements, fetches results, and, when tracing,
  * records spans, Spark job counters and store-directory scans. Every
  * figure is written raw to the result file; `run.py` turns them into
  * metrics and checks the answers.
  *
  * Usage: Driver <plan.json> <result.json>
  */
object Driver {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(new File(args(0)))
    val out = json.createObjectNode()
    val run = new Run(plan, out)
    try run.all()
    finally {
      run.stop()
      json.writeValue(new File(args(1)), out)
    }
  }

  /** One operation of the plan. */
  final case class Op(id: Int, cls: String, kind: String, sql: String,
      fetch: Boolean, views: Seq[JsonNode], probeDir: Option[String],
      txnTable: Option[String])

  def op(n: JsonNode): Op = Op(
    n.get("id").asInt, n.get("cls").asText, n.get("kind").asText,
    n.get("sql").asText, n.path("fetch").asBoolean(false),
    Option(n.get("views")).map(_.asScala.toSeq).getOrElse(Nil),
    Option(n.get("probe_dir")).map(_.asText),
    Option(n.get("txn_table")).map(_.asText))

  /** Wall-clock nanoseconds since the epoch, from one monotonic origin
    * (Spark's listener events carry epoch milliseconds). */
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  def nowNs: Long = originMs * 1000000L + (System.nanoTime() - originNs)

  /** Store footprint: relative path → size of every regular file. */
  def scan(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def parquetFiles(dir: String): Int =
    scan(dir).keys.count(k => k.endsWith(".parquet") &&
      !k.split('/').exists(_.startsWith(".")))

  private def rowJson(r: Row, arr: ArrayNode): Unit = {
    val a = arr.addArray()
    r.toSeq.foreach(v => addValue(a, v))
  }

  private def addValue(a: ArrayNode, v: Any): Unit = v match {
    case null => a.addNull()
    case b: Boolean => a.add(b)
    case i: Int => a.add(i)
    case l: Long => a.add(l)
    case s: Short => a.add(s.toInt)
    case b: Byte => a.add(b.toInt)
    case d: Double => a.add(d)
    case f: Float => a.add(f.toDouble)
    case d: java.math.BigDecimal => a.add(d.doubleValue)
    case d: scala.math.BigDecimal => a.add(d.toDouble)
    case t: java.sql.Timestamp => a.add(t.toLocalDateTime.toString.replace('T', ' '))
    case t: java.time.LocalDateTime => a.add(t.toString.replace('T', ' '))
    case t: java.time.Instant => a.add(t.toString)
    case d: java.sql.Date => a.add(d.toString)
    case d: java.time.LocalDate => a.add(d.toString)
    case s: scala.collection.Seq[_] =>
      val inner = a.addArray(); s.foreach(x => addValue(inner, x))
    case r: Row => val inner = a.addArray(); r.toSeq.foreach(x => addValue(inner, x))
    case other => a.add(other.toString)
  }

  final class Run(plan: JsonNode, out: ObjectNode) {
    private val data = plan.get("data").asText
    private val cores = plan.get("cores").asInt
    private val trace = plan.get("trace").asInt == 1
    private val storeRoot = plan.get("store").asText
    private var spark: SparkSession = _
    // one recorder per SparkContext: job and stage ids restart with each
    private val recorders = scala.collection.mutable.ArrayBuffer[JobRecorder]()
    private val spans = out.putArray("spans")
    private val storeDeltas = out.putArray("store_writes")
    private val probeFiles = out.putArray("probe_files")
    private val deltaDirs = out.putArray("txn_delta_dirs")
    private var nextSpan = 0
    private val executed = scala.collection.mutable.ArrayBuffer[Int]()

    private def session(): Unit = {
      if (spark != null) spark.stop()
      spark = graft.Engine.session(cores, "perfbench")
      if (trace) {
        recorders += new JobRecorder
        spark.sparkContext.addSparkListener(recorders.last)
      }
    }

    /** Register the temp views one operation reads (untimed plumbing). */
    private def views(o: Op): Unit = o.views.foreach { v =>
      var df = if (v.has("sql")) spark.sql(v.get("sql").asText)
        else spark.read.parquet(v.get("file").asText)
      val opCol = org.apache.spark.sql.functions.col("op")
      Option(v.get("op")).foreach(id => df = df.where(opCol === id.asInt).drop("op"))
      if (v.path("executed_only").asBoolean(false))
        df = df.where(opCol.isin(executed.toSeq: _*)).drop("op")
      df.createOrReplaceTempView(v.get("name").asText)
    }

    /** A span: runs `body` as a child of the innermost open span, tags
      * the Spark jobs it submits with the span's job group, and records
      * name, start, end, parent and operation id. */
    private var openSpan = 0
    private def span[T](name: String, opId: Int)(body: => T): T = {
      if (!trace) return body
      val parent = openSpan
      nextSpan += 1
      val id = nextSpan
      val sc = spark.sparkContext
      sc.setJobGroup(s"span-$id", name)
      openSpan = id
      val t0 = nowNs
      try body finally {
        val t1 = nowNs
        val s = spans.addObject()
        s.put("id", id); s.put("parent", parent); s.put("op", opId)
        s.put("name", name); s.put("t0", t0); s.put("t1", t1)
        openSpan = parent
        if (parent > 0) sc.setJobGroup(s"span-$parent", "") else sc.clearJobGroup()
      }
    }

    /** Execute one operation; returns (latency ns, rows or null). */
    private def exec(o: Op): (Long, Seq[Row]) = {
      views(o)
      if (trace) {
        o.probeDir.foreach { d =>
          val n = probeFiles.addObject()
          n.put("op", o.id); n.put("files", parquetFiles(d))
        }
        o.txnTable.foreach { t =>
          val live = graft.Engine.sql(spark, data, s"DESCRIBE DETAIL $t")
            .select("num_live_dirs").head().getLong(0)
          val n = deltaDirs.addObject()
          n.put("op", o.id); n.put("dirs", live - 1)
        }
      }
      val before = if (trace && o.kind == "write") scan(storeRoot) else null
      val t0 = System.nanoTime()
      val rows = span(o.cls, o.id) {
        if (o.fetch) {
          val df = span("plans.analyze", o.id)(graft.Engine.sql(spark, data, o.sql))
          if (trace) span("plans.optimize", o.id)(df.queryExecution.executedPlan)
          span("spark.exec", o.id)(df.collect().toSeq)
        } else { graft.Engine.sql(spark, data, o.sql); null }
      }
      val dt = System.nanoTime() - t0
      if (before != null) {
        val after = scan(storeRoot)
        val fresh = after.filter { case (k, sz) => !before.get(k).contains(sz) }
        val n = storeDeltas.addObject()
        n.put("op", o.id); n.put("files", fresh.size); n.put("bytes", fresh.values.sum)
      }
      (dt, rows)
    }

    private def record(arr: ArrayNode, o: Op, res: Either[Throwable, (Long, Seq[Row])]): Unit = {
      val n = arr.addObject()
      n.put("id", o.id)
      res match {
        case Right((dt, rows)) =>
          n.put("ns", dt)
          if (rows != null) {
            n.put("nrows", rows.size)
            rows.foreach(r => rowJson(r, n.withArray("rows")))
          }
        case Left(e) =>
          n.put("error", s"${e.getClass.getSimpleName}: ${e.getMessage}".take(2000))
      }
    }

    private def attempt(o: Op): Either[Throwable, (Long, Seq[Row])] =
      try Right(exec(o)) catch { case e: Exception => Left(e) }

    def all(): Unit = {
      out.set("context", context())
      // Set-up, repeated: each repetition starts a fresh session and
      // builds its stores under its own root; the last one is kept.
      val setupNs = out.putArray("setup_ns")
      val setupOps = out.putArray("setup_ops")
      plan.get("setups").asScala.foreach { rep =>
        val t0 = System.nanoTime()
        session()
        graft.Engine.registerAll(spark, data)
        graft.operators.IndexZooSql.managedRoot = rep.get("managed_root").asText
        rep.get("statements").asScala.map(op).foreach(o => record(setupOps, o, attempt(o)))
        val warm = out.putArray("warmup")
        plan.get("warmup").asScala.map(op).foreach(o => record(warm, o, attempt(o)))
        setupNs.add(System.nanoTime() - t0)
        if (!rep.get("keep").asBoolean)
          org.apache.commons.io.FileUtils.deleteQuietly(new File(rep.get("root").asText))
      }
      // Timed phase: the operation stream, in order, until the first
      // round boundary after the deadline.
      val deadline = System.nanoTime() + plan.get("seconds").asLong * 1000000000L
      val gc0 = gcMs()
      val load0 = loadavg()
      val timed = out.putArray("ops")
      val t0 = System.nanoTime()
      val it = plan.get("ops").asScala.iterator.map(op)
      val round = plan.get("round").asInt
      var n = 0
      while (it.hasNext && (System.nanoTime() < deadline || n % round != 0)) {
        n += 1
        val o = it.next()
        record(timed, o, attempt(o))
        executed += o.id
      }
      out.put("timed_ns", System.nanoTime() - t0)
      out.put("jvm_gc_ms", gcMs() - gc0)
      out.put("jvm_heap_after_gc_mb", heapAfterGcMb())
      out.put("loadavg_timed_start", load0)
      // Coverage pass (traced runs): operations that complete the
      // per-layer view, after the timed phase so they do not change it.
      val coverage = out.putArray("coverage")
      if (trace) Option(plan.get("coverage")).foreach(_.asScala.map(op).foreach { o =>
        record(coverage, o, attempt(o))
        executed += o.id
      })
      // Checks: statements whose answers are compared after the run.
      val checks = out.putArray("checks")
      plan.get("checks").asScala.map(op).foreach(o => record(checks, o, attempt(o)))
      if (trace) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val jobs = out.putArray("jobs")
        recorders.foreach(r => jobs.addAll(r.toJson(json)))
      }
      val store = scan(storeRoot)
      out.put("store_live_files", store.size)
      out.put("store_live_bytes", store.values.sum)
      out.put("peak_rss_kb", vmHwmKb())
    }

    def stop(): Unit = if (spark != null) spark.stop()

    private def context(): ObjectNode = {
      val c = json.createObjectNode()
      c.put("java_version", System.getProperty("java.version"))
      c.put("spark_version", org.apache.spark.SPARK_VERSION)
      c.put("scala_version", scala.util.Properties.versionNumberString)
      c.put("cores", cores)
      c
    }
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "" }

  def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def heapAfterGcMb(): Double = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
