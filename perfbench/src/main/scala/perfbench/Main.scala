package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload: set-up that is repeated and timed, then a closed loop of
  * operations driven by one client. `op` runs operation `i` of the
  * workload's script and returns what the checks need; it throws when
  * the operation fails. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def warmupOps: Int
  /** The kind operation `i` will report. */
  def kindOf(i: Int): String
  /** Whether operation `i` starts a unit of the script (a conversation,
    * a search write group). The timed window ends on a unit boundary, so
    * every window holds whole units and the same mix of operations. */
  def unitStart(i: Int): Boolean = true
  /** The number of operations the script holds. A window that reaches
    * the end of the script ends there, on a unit boundary. */
  def length: Int = Int.MaxValue
  /** A traced run traces every other timed operation of each key. */
  def traceKey(i: Int): String = kindOf(i)
  def op(i: Int, traced: Boolean): Map[String, Any]
  /** Observations taken after an operation's timing stops. */
  def after(kind: String): Map[String, Any] = Map.empty
  def close(): Unit = ()
}

/** The benchmark's JVM side: `--workload --work --seconds --trace --cores
  * --offheap-mb --setup-reps`. Reads the generated inputs under `work`
  * and writes `out.json` (every operation with its wall time and
  * output) and, when tracing, `spans.json`. */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(path: String): JsonNode = mapper.readTree(new File(path))

  def session(cores: Int, offheapMb: Long, work: String): SparkSession =
    SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", s"${offheapMb}m")
      // the status store otherwise keeps every finished job and query,
      // so driver heap would grow with the number of operations a
      // window happens to fit
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  /** Driver heap in use after a full collection, plus the memory held
    * by cached datasets, in MB. Broadcast blocks are left out: the
    * cleaner frees them asynchronously, so they would only add noise. */
  def memoryMb(spark: SparkSession): Double = {
    def heapAfterGc() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var heap = heapAfterGc()
    // collect until the heap stops shrinking: the context cleaner and the
    // status store free broadcasts and old executions asynchronously,
    // once a collection has dropped the last reference to them
    var prev = Long.MaxValue
    var rounds = 0
    while (rounds < 10 && prev - heap > (1L << 20)) {
      Thread.sleep(100)
      prev = heap
      heap = heapAfterGc()
      rounds += 1
    }
    val cached = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    (heap + cached) / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val cores = a("cores").toInt
    val tracer = new Tracer
    val ledgers = mutable.ArrayBuffer.empty[JobLedger]
    val w: Workload = a("workload") match {
      case "chat"   => new ChatWorkload(work, tracer)
      case "search" => new SearchWorkload(work, tracer)
      case "curate" => new CurateWorkload(work, tracer)
    }

    var spark: SparkSession = null
    val setupS = (1 to a("setup-reps").toInt).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cores, a("offheap-mb").toLong, work)
      if (traceRun) {
        val l = new JobLedger
        spark.sparkContext.addSparkListener(l)
        ledgers += l
        tracer.sc = spark.sparkContext
      }
      tracer.active = traceRun
      w.setup(spark)
      tracer.active = false
      (System.nanoTime() - t0) / 1e9
    }
    // the traced run alternates traced and untraced operations of each
    // trace key, so the difference between the two halves is the tracing
    // overhead; the listener is attached only while a traced one runs
    val ledger = ledgers.lastOption
    ledger.foreach(spark.sparkContext.removeSparkListener)

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    // memory is sampled, outside the timing, at the end of the set-up,
    // the warm-up and the first two timed units: the same points in
    // every run, however many units the window fits
    val mem = mutable.ArrayBuffer(memoryMb(spark))
    def boundary(i: Int) = i >= w.length || w.unitStart(i)
    def runOp(i: Int, timed: Boolean): Unit = {
      val traced = traceRun && timed && seen(w.traceKey(i)) % 2 == 0
      if (timed) seen(w.traceKey(i)) += 1
      ledger.filter(_ => traced).foreach(spark.sparkContext.addSparkListener)
      tracer.op = i
      tracer.active = traced
      val t0 = System.nanoTime()
      val (out, err) =
        try (tracer.span("op")(w.op(i, traced)), "")
        catch {
          case e: Exception => (Map.empty[String, Any], s"${e.getClass.getName}: ${e.getMessage}")
        }
      val wall = (System.nanoTime() - t0) / 1e6
      tracer.op = -1
      tracer.active = false
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ledger.get)
      }
      val kind = w.kindOf(i)
      if (boundary(i + 1) && mem.size < 4) mem += memoryMb(spark)
      ops += Map("i" -> i, "kind" -> kind, "wall_ms" -> wall, "timed" -> timed,
        "traced" -> traced, "error" -> err) ++ out ++ w.after(kind)
    }

    (0 until w.warmupOps).foreach(runOp(_, timed = false))
    val start = System.nanoTime()
    var i = w.warmupOps
    while (i < w.length && ((System.nanoTime() - start) / 1e9 < seconds || !boundary(i))) {
      runOp(i, timed = true)
      i += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9

    val env = Map(
      "cores" -> cores, "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "offheap_mb" -> a("offheap-mb").toLong)
    val out = Map("setup_s" -> setupS, "ops" -> ops.toSeq, "window_s" -> windowS,
      "mem_mb" -> mem.toSeq, "env" -> env)
    w.close()
    spark.stop()
    mapper.writeValue(new File(s"$work/out.json"), out)
    if (traceRun) {
      val spans = tracer.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end,
        "attrs" -> s.attrs.toMap))
      mapper.writeValue(new File(s"$work/spans.json"),
        Map("spans" -> spans, "jobs" -> ledgers.toSeq.flatMap(_.dump)))
    }
    // the LLM stub's request threads are non-daemon and idle for a
    // minute before they end; do not wait for them
    System.exit(0)
  }

  def seq(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
