package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the run's temp root, the op
  * and failure counts, and the metrics reported so far. */
final class Ctx(val tmp: Path, val seed: Long, val seconds: Double,
                val traced: Boolean, val benchDir: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  private var session: SparkSession = _
  private var tr: Tracer = _
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val started = System.nanoTime()
  private var dirs = 0

  def spark: SparkSession = session
  def tracer: Tracer = tr

  /** Start the run's session, stopping the previous one; the tracer
    * follows the newest session. */
  def startSession(): Unit = {
    if (session != null) session.stop()
    session = Session.create(cores, tmp)
    tr = new Tracer(traced, session)
  }

  def stop(): Unit = if (session != null) session.stop()

  def put(name: String, v: Double): Unit = metrics(name) = v

  /** An op that may fail: a failure is counted and yields None, so it can
    * never enter a median as a time. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** An output check: a mismatch counts as a failed op. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $what failed: $detail")
    }
  }

  /** A not-yet-existing directory under the run's temp root. */
  def freshDir(prefix: String): Path = {
    dirs += 1
    tmp.resolve(f"$prefix-$dirs%03d")
  }

  def elapsed: Double = (System.nanoTime() - started) / 1e9

  def info(line: String): Unit = println(line)

  /** Progress note on stderr, with seconds since the JVM started. */
  def phase(what: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime) / 1000.0}%7.1f s  $what")
}

object Ctx {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
