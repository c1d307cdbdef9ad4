package perfbench

/** Order statistics used by every workload's report. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A latency tail: `value` is the sample with `beyond` samples above
    * it, `percentile` the share of samples at or below it (0–100). */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** The highest percentile that still has at least `minBeyond` samples
    * beyond it. Below `minBeyond + 1` samples no percentile qualifies;
    * the median is reported then, with its real (smaller) `beyond`
    * count, so a reader sees the tail is unsupported. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n > minBeyond) {
      val i = n - minBeyond - 1
      Tail(s(i), 100.0 * (i + 1) / n, n - i - 1, n)
    } else {
      val m = median(s)
      Tail(m, 50.0, s.count(_ > m), n)
    }
  }
}

/** Closed-loop accounting for one workload run: latency samples per op
  * class, attempts and failures. A failed or wrong op is counted as
  * failed and never becomes a latency sample. */
final class Recorder {
  private val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  var attempted = 0L
  var failed = 0L
  var rows = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  /** (class, label, seconds) of every successful op, in run order. */
  val log = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]

  /** Run one op: `op` returns the rows it served or wrote and whether
    * its output passed the check. Exceptions count as failures. */
  def run(cls: String, label: String)(op: => (Long, Boolean)): Boolean = {
    val (outcome, secs) = Recorder.timed(op)
    outcome match {
      case Right((n, ok)) => record(cls, label, secs, n, if (ok) None else Some("wrong output"))
      case Left(msg) => record(cls, label, secs, 0L, Some(msg))
    }
  }

  /** Account for an op timed elsewhere: a sample when `error` is empty,
    * a failure otherwise. */
  def record(cls: String, label: String, secs: Double, rows: Long, error: Option[String]): Boolean = {
    attempted += 1
    error match {
      case None =>
        samples(cls) = samples.getOrElse(cls, Vector.empty) :+ secs
        log += ((cls, label, secs))
        this.rows += rows
        true
      case Some(msg) => fail(s"$cls/$label: $msg")
    }
  }

  private def fail(msg: String): Boolean = {
    failed += 1
    if (failures.length < 20) failures += msg
    false
  }

  def of(cls: String): Seq[Double] = samples.getOrElse(cls, Vector.empty)
  def all: Seq[Double] = samples.values.flatten.toSeq
}

object Recorder {

  /** Evaluate `op`, returning its value or its exception's message, and
    * the seconds it took. */
  def timed[A](op: => A): (Either[String, A], Double) = {
    val t0 = System.nanoTime()
    val outcome =
      try Right(op)
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    (outcome, (System.nanoTime() - t0) / 1e9)
  }
}
