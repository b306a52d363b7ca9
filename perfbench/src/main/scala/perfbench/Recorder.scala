package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** One timed region of the traced run. `parent` is 0 for a root span.
  * Times are nanoseconds on one clock shared by driver spans and the
  * Spark/streaming listener spans (see [[Recorder.epochNs]]). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Long, end: Long)

/** Collects everything one benchmark run measures: timed samples per
  * operation, output checks, scalar layer values and, while tracing is on,
  * spans. Spans stay in memory and are written out once at the end. */
final class Recorder(val spark: org.apache.spark.sql.SparkSession) {
  /** Offset that turns `System.nanoTime` into epoch nanoseconds, so that
    * listener events (epoch milliseconds) and driver spans line up. */
  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochNs(): Long = System.nanoTime() + clockOffset

  @volatile var tracing = false
  private val ids = new AtomicInteger(1)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  /** Timed samples in seconds, keyed by "<set>/<name>"; the set is
    * "plain" or "traced" so the two kinds of cycle never mix. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def nextId(): Int = ids.getAndIncrement()
  def currentSpan: Int = stack.headOption.getOrElse(0)

  def addSpan(s: Span): Unit = spanBuf.synchronized { spanBuf += s }
  def spans: Seq[Span] = spanBuf.synchronized { spanBuf.toList }

  /** Runs `f` inside a span when tracing, and as is otherwise. Spark jobs
    * started inside pick the span up as their parent through a local
    * property (see [[Listeners]]). */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!tracing) f
    else {
      val id = nextId()
      val parent = currentSpan
      stack = id :: stack
      spark.sparkContext.setLocalProperty(Recorder.SpanProperty, id.toString)
      val t0 = epochNs()
      try f
      finally {
        val t1 = epochNs()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Recorder.SpanProperty,
          if (parent == 0) null else parent.toString)
        addSpan(Span(id, parent, layer, name, t0, t1))
      }
    }

  def sample(key: String, seconds: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += seconds

  /** Counts one attempted operation; a failed check or a thrown exception
    * counts as a failed one. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val res = try ok catch {
      case e: Throwable => failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!res) {
      failed += 1
      if (!failures.exists(_.startsWith(name + ":"))) failures += s"$name: check failed"
    }
    res
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
