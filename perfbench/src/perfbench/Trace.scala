package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** JVM counters: GC count and time, classes loaded, and old-generation
  * occupancy after each collection (from GC notifications); and the live
  * heap, from full collections. */
final class JvmProbe {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  @volatile private var oldAfterGcMb = 0.0

  gcBeans.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if pool.contains("Old") || pool.contains("Tenured") => u.getUsed
            }.sum / 1048576.0
            oldAfterGcMb = old
          }
      }, null, null)
    case _ =>
  }

  def snapshot(): Map[String, Double] = Map(
    "gc_count" -> gcBeans.map(_.getCollectionCount).sum.toDouble,
    "gc_s" -> gcBeans.map(_.getCollectionTime).sum / 1000.0,
    "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble,
    "heap_after_gc_mb" -> oldAfterGcMb)

  /** Old generation in use after a full collection, which leaves only
    * live objects, all of them in the old generation. */
  private def collectedMb(): Double = {
    System.gc()
    oldPools.map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** The live heap at rest. Spark frees the blocks of unpersisted tables,
    * broadcasts and checkpoints asynchronously once their owners are
    * collected, so collect until two readings agree within 1 MB. */
  def liveMb(): Double = {
    var prev = collectedMb()
    var cur = prev
    var tries = 0
    do {
      Thread.sleep(300)
      prev = cur
      cur = collectedMb()
      tries += 1
    } while (math.abs(prev - cur) >= 1.0 && tries < 10)
    cur
  }

  /** Runs `body` while another thread collects every `everyMs` ms;
    * returns its result and the largest live heap seen. (After-GC readings
    * of G1's young collections cannot give this peak: the old generation
    * keeps promoted garbage until the next mixed collection, so they grow
    * with run length.) */
  def peakLiveMb[T](everyMs: Long)(body: => T): (T, Double) = {
    @volatile var running = true
    var peak = collectedMb()
    val sampler = new Thread(() => while (running) {
      peak = math.max(peak, collectedMb())
      Thread.sleep(everyMs)
    })
    sampler.setDaemon(true)
    sampler.start()
    val out = try body finally { running = false; sampler.join() }
    (out, peak)
  }
}

/** Spans with Spark and SQL counters, kept in memory and written once.
  *
  * A span is opened around each call into a layer. Jobs started inside it
  * carry the span id as a local property, so task counters land on the span
  * whose action started them, however late the listener bus delivers them.
  * Query-level counters (planning time, operator metrics) arrive through a
  * [[QueryExecutionListener]]; the bus is drained before a span closes, so
  * they land on the span that is still open. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int, val kind: String) {
    var t0 = 0L
    var t1 = 0L // end of the traced call
    var t2 = 0L // end of the span's bookkeeping (bus drain); children occupy [t0, t2]
    val counters = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  }

  private val Key = "perfbench.span"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var current: Span = null
  /** Cached plans already walked in this operation (each is counted once,
    * in the span that built it). */
  private val seenCaches = mutable.Set.empty[AnyRef]
  private var planDump: Seq[Map[String, Any]] = Nil

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String, op: Int, kind: String = "layer")(body: => T): T = {
    val parent = current
    val s = new Span(spans.size, name, if (parent == null) -1 else parent.id, op, kind)
    spans += s
    byId.put(s.id, s)
    current = s
    sc.setLocalProperty(Key, s.id.toString)
    s.t0 = System.nanoTime()
    try body
    finally {
      s.t1 = System.nanoTime()
      PerfbenchBridge.drain(sc)
      s.t2 = System.nanoTime()
      current = parent
      sc.setLocalProperty(Key, if (parent == null) null else parent.id.toString)
    }
  }

  /** Attach a counter measured by the harness to the innermost open span. */
  def count(k: String, v: Double): Unit = if (current != null) current.add(k, v)

  def newOperation(): Unit = seenCaches.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
      .flatMap(id => Option(byId.get(id))).foreach { s =>
        s.add("jobs", 1)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      s.add("tasks", 1)
      if (e.reason != Success) s.add("tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("task_run_s", m.executorRunTime / 1e3)
        s.add("gc_s", m.jvmGCTime / 1e3)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", m.diskBytesSpilled.toDouble)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = current
    if (s == null) return
    val phases = qe.tracker.phases
    s.add("planning_s", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3)
    val nodes = walk(qe.executedPlan)
    nodes.foreach {
      case b: BroadcastExchangeExec => s.add("broadcast_bytes", metric(b, "dataSize"))
      case _ =>
    }
    if (s.kind == "untraced") {
      operatorCounters(nodes).foreach { case (k, v) => s.add(k, v) }
      if (planDump.isEmpty) planDump = nodes.map(n => Map(
        "node" -> n.nodeName,
        "detail" -> n.simpleString(200),
        "metrics" -> n.metrics.map { case (k, m) => k -> m.value }))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  /** Every physical operator that ran, through AQE stages and caches built
    * by this query. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case m: InMemoryTableScanExec =>
      val builder = m.relation.cacheBuilder
      if (seenCaches.add(builder)) m +: walk(builder.cachedPlan) else Seq(m)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  /** The operator counters the per-layer report names, read from the
    * SQL metrics of an untraced action. */
  private def operatorCounters(nodes: Seq[SparkPlan]): Seq[(String, Double)] = {
    def refs(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      es.flatMap(_.references.map(_.name)).toSet
    nodes.flatMap {
      // the tiles: the stages join, after which lake pages are gone
      case j: BroadcastHashJoinExec if refs(j.leftKeys ++ j.rightKeys).contains("hydroid") &&
          j.joinType.toString == "Inner" =>
        Seq("tiles_rows" -> metric(j, "numOutputRows"))
      // the mosaic's partial aggregate: grouped by cell over the tiles' depth
      case h: HashAggregateExec if h.aggregateExpressions.exists(_.mode == Partial) &&
          h.groupingExpressions.flatMap(_.references.map(_.name)).toSet == Set("cell") &&
          refs(h.aggregateExpressions).contains("depth") =>
        Seq("mosaic_partial_rows" -> metric(h, "numOutputRows"))
      case x: ShuffleExchangeExec if x.outputPartitioning.toString.startsWith("hashpartitioning(cell") =>
        Seq("mosaic_shuffle_bytes" -> metric(x, "shuffleBytesWritten"),
          "mosaic_fetch_wait_s" -> metric(x, "fetchWaitTime") / 1e3)
      case _ => Nil
    }
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
      "start_ns" -> s.t0, "end_ns" -> s.t1, "closed_ns" -> s.t2,
      "counters" -> s.synchronized(s.counters.toMap))
  }

  def plan: Seq[Map[String, Any]] = planDump
}
