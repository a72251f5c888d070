package perfbench

import scala.collection.mutable

/** Order statistics used by every reported latency. */
object Stats {

  /** Quantile by linear interpolation between closest ranks (the
    * "R-7" rule numpy uses by default): rank h = (n - 1) q over the
    * sorted sample, value = x(floor h) + (h - floor h)(x(ceil h) - x(floor h)). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Records the outcome of every timed operation. Only the engine call
  * is timed; its result is checked afterwards, outside the clock. An
  * operation that throws, or whose result the check rejects, counts as
  * failed and adds no latency sample. */
final class Ops {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val failures = mutable.LinkedHashMap[String, Int]()
  private val fastest = mutable.LinkedHashMap[(String, String), Double]()
  var attempted = 0L
  var failed = 0L

  /** Run `body` as one operation of `kind`. `check` returns None when
    * the result is right, or the reason it is wrong. Returns the result
    * and its latency in seconds when the operation succeeded. `key`
    * names an operation that repeats identically across units; its
    * fastest successful latency is kept (see [[best]]). */
  def run[T](kind: String, key: String = "")(body: => T)(
      check: T => Option[String]): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val outcome = try Right(body) catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val verdict = outcome.flatMap(r =>
      (try check(r) catch { case e: Exception =>
        Some(s"check threw ${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}") })
        .toLeft(r))
    verdict match {
      case Right(r) =>
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += dt
        if (key.nonEmpty) fastest((kind, key)) = math.min(dt, fastest.getOrElse((kind, key), dt))
        Some((r, dt))
      case Left(why) =>
        fail(kind, why)
        None
    }
  }

  /** Count a failure found outside a timed call (e.g. an end-of-pass
    * check of accumulated output). */
  def fail(kind: String, why: String): Unit = {
    failed += 1
    val key = s"$kind: $why".take(300)
    failures(key) = failures.getOrElse(key, 0) + 1
  }

  /** Drop every latency sample (after warm-up); counts stay. */
  def clearSamples(): Unit = { samples.clear(); fastest.clear() }

  def of(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Per repeated operation of these kinds, its fastest latency: the
    * min-of-N protocol, which drops transient host stalls and the
    * slower first executions. */
  def best(kinds: String => Boolean): Seq[Double] =
    fastest.collect { case ((k, _), dt) if kinds(k) => dt }.toSeq
  def failureList: Seq[(String, Int)] = failures.toSeq

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("").take(200)
}

/** In-memory spans around every call into a layer. A span's self time
  * is its duration minus the part its child spans cover. While a span
  * is open, Spark jobs carry its id as their job group, so task
  * counters can be attributed to it. */
final class Trace(val enabled: Boolean, setGroup: Option[String] => Unit = _ => ()) {
  final case class Span(id: Int, parent: Int, name: String, run: String,
                        start: Long, var end: Long = -1L)

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var run: String = ""

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, run,
        System.nanoTime())
      spans += s
      stack = s :: stack
      setGroup(Some(groupOf(s.id)))
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        setGroup(stack.headOption.map(p => groupOf(p.id)))
      }
    }

  def all: Seq[Span] = spans.toSeq
  def groupOf(id: Int): String = s"perfbench-span-$id"
  def durationOf(s: Span): Double = (s.end - s.start) / 1e9

  /** Self time of every closed span, in seconds. */
  def selfTimes: Map[Int, Double] = Trace.selfTimes(
    spans.toSeq.filter(_.end >= 0).map(s => (s.id, s.parent, durationOf(s))))

  /** Summed self time per span name. */
  def selfByName: Map[String, Double] = {
    val self = selfTimes
    spans.toSeq.filter(_.end >= 0).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** Durations (not self time) of every span with this name. */
  def durations(name: String): Seq[Double] =
    spans.toSeq.filter(s => s.name == name && s.end >= 0).map(durationOf)

  def toJson(extra: Int => String): String =
    spans.filter(_.end >= 0).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""run":${Json.str(s.run)},"start_ns":${s.start},"end_ns":${s.end}${extra(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  /** (id, parent, duration) → id → duration minus children's durations. */
  def selfTimes(spans: Seq[(Int, Int, Double)]): Map[Int, Double] = {
    val childSum = spans.groupBy(_._2).map { case (p, cs) => p -> cs.map(_._3).sum }
    spans.map { case (id, _, d) => id -> (d - childSum.getOrElse(id, 0.0)) }.toMap
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
}

/** Host conditions. */
object Host {
  /** Peak resident set of this JVM (VmHWM), in bytes. */
  def vmHwm(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong * 1024).getOrElse(0L)
    finally src.close()
  }

  @volatile private var heapPeak = 0L

  /** From now on, keep the largest heap in use right after a collection:
    * the live heap plus the garbage no collection has reached yet. */
  def watchHeap(): Unit = watching

  private lazy val watching: Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter}
    import javax.management.openmbean.CompositeData
    import scala.jdk.CollectionConverters._
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
          val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { heapPeak = math.max(heapPeak, used) }
        }, null, null)
      case _ =>
    }
  }

  /** The program's peak memory, in MiB: the peak resident set less the
    * heap the JVM reserves and pre-touches, plus the peak heap in use
    * after a collection. The first part is native memory (code, metadata,
    * thread stacks, buffers); the second moves with what the program
    * keeps on the heap, not with the configured heap size. */
  def peakMemMb(): Double = { val (native, heap) = peakMemParts(); native + heap }

  /** (native, heap) parts of [[peakMemMb]], in MiB. */
  def peakMemParts(): (Double, Double) = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val heapPart = synchronized(if (heapPeak > 0) heapPeak else heap.getUsed)
    ((vmHwm() - heap.getCommitted) / 1048576.0, heapPart / 1048576.0)
  }

  def rmTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(p)
      try w.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally w.close()
    }

  /** Total bytes and regular-file count under `p` (data files only:
    * names starting with `.` or `_` are bookkeeping). */
  def treeSize(p: java.nio.file.Path): (Long, Int) = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.exists(p)) (0L, 0)
    else {
      val w = java.nio.file.Files.walk(p)
      try {
        val files = w.iterator().asScala.filter(f =>
          java.nio.file.Files.isRegularFile(f) && {
            val n = f.getFileName.toString
            !n.startsWith(".") && !n.startsWith("_")
          }).toSeq
        (files.map(java.nio.file.Files.size).sum, files.size)
      } finally w.close()
    }
  }
}

/** The benchmark's Python helpers (table generator, oracle check). */
object Py {
  /** Starts `perfbench/<script>` with `args`; its stderr goes to ours. */
  def start(script: String, args: String*): Process = {
    val dir = sys.env.getOrElse("PERFBENCH_DIR", "perfbench")
    new ProcessBuilder((Seq(sys.env.getOrElse("PYTHON", "python3"), s"$dir/$script") ++ args): _*)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  }

  /** Runs `perfbench/<script>` with `args` and no input; returns its stdout. */
  def run(script: String, args: String*): String = {
    val p = start(script, args: _*)
    p.getOutputStream.close()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    require(p.waitFor() == 0, s"$script exited with ${p.exitValue()}")
    out
  }

  /** Writes the seeded relational tables into `dir`: at scale 100, the
    * size of the engine's sf0.1 test tables (150,000 orders, about
    * 600,000 line items); at smoke size, 300 orders. */
  def tables(ctx: Ctx, dir: String): Unit =
    run("tablegen.py", dir, ctx.seed.toString, if (ctx.smoke) "2" else "100")
}
