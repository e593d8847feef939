package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** In-memory spans for a traced run. Every op gets an id that is set as the
  * Spark job group while it runs, so its jobs can be found again without
  * touching the `graft:` job descriptions the program sets. Spans are
  * written out once, when the run ends. Untraced runs register no listener
  * and record nothing. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  import Tracer._

  val log: JobLog =
    if (enabled) { val l = new JobLog; spark.sparkContext.addSparkListener(l); l }
    else null

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var ops = 0

  /** Run `body` as one op whose root span is `name` in `layer`. */
  def op[T](name: String, layer: String)(body: => T): (T, Op) = {
    ops += 1
    val id = s"op$ops"
    val sc = spark.sparkContext
    if (enabled) sc.setJobGroup(id, null)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val root = Span(spans.size, -1, id, name, layer, t0, t0)
    if (enabled) { spans += root; open.push(root) }
    try {
      val r = body
      val wall = (System.nanoTime() - n0) / 1e9
      (r, finish(id, root, wall))
    } finally if (enabled) { open.clear(); sc.clearJobGroup() }
  }

  private def finish(id: String, root: Span, wall: Double): Op = {
    if (!enabled) return Op(id, wall, Seq.empty, Seq.empty)
    root.endMs = System.currentTimeMillis()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val js = log.jobsOf(id)
    val explicit = spans.filter(_.op == id).toSeq
    js.foreach { j =>
      val parent = explicit.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .lastOption.getOrElse(root)
      spans += Span(spans.size, parent.id, id, j.desc, jobLayer(j.desc),
        j.startMs, j.endMs)
    }
    Op(id, wall, js, spans.filter(_.op == id).toSeq)
  }

  /** A child span inside the current op. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.head.id, open.head.op, name, layer,
        System.currentTimeMillis(), 0L)
      spans += s; open.push(s)
      try body finally { s.endMs = System.currentTimeMillis(); open.pop() }
    }

  /** One JSON object per span. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}",""" +
        s""""name":"${Json.esc(s.name)}","layer":"${s.layer}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: String, name: String,
                        layer: String, startMs: Long, var endMs: Long)

  /** A finished op: wall seconds, its Spark jobs and its spans (both empty
    * when untraced). */
  final case class Op(id: String, wall: Double, jobs: Seq[JobLog.Job],
                      spans: Seq[Span]) {
    private def iv(j: JobLog.Job) = (j.startMs, j.endMs)

    /** Wall time minus the union of its Spark job intervals. */
    def driverGap: Double = math.max(0.0, wall - Intervals.covered(jobs.map(iv)))

    /** Seconds covered by jobs whose description matches. */
    def jobTime(p: String => Boolean): Double =
      Intervals.covered(jobs.filter(j => p(j.desc)).map(iv))

    /** Self time per layer: a span's duration minus what its children
      * cover. */
    def selfTimes: Map[String, Double] = {
      val kids = spans.groupBy(_.parent)
      spans.map { s =>
        val covered = Intervals.covered(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        s.layer -> math.max(0.0, (s.endMs - s.startMs) / 1000.0 - covered)
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
  }

  /** The layer a Spark job belongs to, read from its description. */
  def jobLayer(desc: String): String =
    if (desc.startsWith("graft:stage:") || desc.startsWith("graft:collect:") ||
        desc.startsWith("graft:quarantine")) "pipeline"
    else if (desc.endsWith(":docs")) "materialize"
    else if (desc.startsWith("graft:") || desc.startsWith("Listing leaf files")) "io"
    else "spark"
}
