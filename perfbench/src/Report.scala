package perfbench

import scala.collection.mutable

/** What one run prints: operations attempted and failed (every output
  * check counts as one), metrics by name with their units, and the
  * sample count behind each timing. */
final class Report {
  final case class Value(v: Double, unit: String)
  val endToEnd = mutable.LinkedHashMap.empty[String, Value]
  val perLayer = mutable.LinkedHashMap.empty[String, Value]
  val detail = mutable.LinkedHashMap.empty[String, Value]
  val samples = mutable.LinkedHashMap.empty[String, Long]
  val failures = mutable.ArrayBuffer.empty[String]
  private var attemptedN = 0L

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failures.size.toLong)

  /** One operation: counted as attempted, and as failed if it throws. */
  def op[T](what: String)(body: => T): Option[T] = {
    synchronized(attemptedN += 1)
    try Some(body)
    catch {
      case e: Throwable =>
        synchronized(failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** One output check, counted like an operation. */
  def check(what: String)(cond: => Boolean): Unit =
    op(what)(cond) match {
      case Some(true) | None => ()
      case Some(false) =>
        synchronized(failures += s"check failed: $what"); ()
    }

  def e2e(name: String, v: Double, unit: String, n: Long): Unit = {
    endToEnd(name) = Value(v, unit); samples(name) = n
  }
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = Value(v, unit)
  def info(name: String, v: Double, unit: String, n: Long = -1): Unit = {
    detail(name) = Value(v, unit); if (n >= 0) samples(name) = n
  }
}

object Log {
  /** Progress note on stderr, with seconds since the JVM's start. */
  def apply(msg: String): Unit = System.err.println(
    f"perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%8.2f s: $msg")
}

object Par {
  /** Run `tasks` on `threads` threads; rethrows the first failure. */
  def run(threads: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
  def ms(ns: Long): Double = ns / 1e6

  /** The host's speed at the time of a run: milliseconds one thread
    * takes for a fixed integer loop, median of five. A run's timings
    * read against it show whether a slow run was a slow host. */
  def calibMs(): Double = p50((0 until 5).map { _ =>
    val (h, ns) = timed {
      var h = 0L
      var i = 0
      while (i < 100000000) { h = h * 6364136223846793005L + i; i += 1 }
      h
    }
    calibSink = h // a result kept, so the loop is not optimised away
    ns / 1e6
  })
  @volatile private var calibSink = 0L

  /** Time `body`, returning (result, elapsed ns). */
  def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(m: Iterable[(String, Report#Value)]): String =
    obj(m.map { case (k, v) => k -> obj(Seq("value" -> num(v.v), "unit" -> str(v.unit))) })
}
