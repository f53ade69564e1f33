package graftbench

/** One reported number: a metric name, its value, its unit and how many
  * samples it summarizes (1 for a single measurement or a count).
  */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 1)

/** The outcome of one timed run. A run that throws, or whose output
  * checks fail, is a [[Failed]] and never contributes a time.
  */
sealed trait Outcome[+T]
final case class Ok[T](seconds: Double, result: T) extends Outcome[T]
final case class Failed(reason: String) extends Outcome[Nothing]

object Stats {

  /** Nearest-rank percentile (`q` in (0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q > 0 && q <= 1, s"percentile rank must be in (0, 1], got $q")
    val sorted = xs.sorted
    sorted(math.max(0, math.ceil(q * sorted.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the nearest-rank `q` percentile of `n` samples. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** Smallest sample count that leaves ten samples beyond rank `q`: a
    * percentile is reported only with at least ten samples beyond it.
    */
  def samplesFor(q: Double): Int = Iterator.from(1).find(n => beyond(n, q) >= 10).get

  /** The highest tail rank reportable from `n` samples, if any. */
  def tailRank(n: Int): Option[Double] =
    Seq(0.99, 0.95, 0.9, 0.75).find(q => n >= samplesFor(q))

  /** Time `body`, then run `check` on its result outside the timed region.
    * A throw from either, or any check failure, makes the run [[Failed]].
    */
  def attempt[T](body: => T)(check: T => Seq[String]): Outcome[T] =
    try {
      val t0 = System.nanoTime()
      val r = body
      val secs = (System.nanoTime() - t0) / 1e9
      check(r) match {
        case Nil => Ok(secs, r)
        case problems => Failed(problems.mkString("; "))
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Failed(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }

  def timings[T](outcomes: Seq[Outcome[T]]): Seq[Double] =
    outcomes.collect { case Ok(s, _) => s }

  def failures[T](outcomes: Seq[Outcome[T]]): Seq[String] =
    outcomes.collect { case Failed(r) => r }
}

/** JSON rendering for the benchmark's records. An object is a `ListMap`,
  * so its keys keep their order; NaN and infinities render as null.
  */
object Json {
  import scala.collection.immutable.ListMap

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(value: Any): String = mapper.writeValueAsString(value)

  def num(d: Double): Any = if (d.isNaN || d.isInfinite) null else d

  /** The result line: exactly correct, attempted, failed and metrics. */
  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    Json(ListMap(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map(m => m.name -> ListMap("value" -> num(m.value), "unit" -> m.unit)): _*)))

  /** The same metrics with their sample counts, for the human-readable record. */
  def detailed(metrics: Seq[Metric]): ListMap[String, Any] =
    ListMap(metrics.map(m => m.name -> ListMap(
      "value" -> num(m.value), "unit" -> m.unit, "samples" -> m.samples)): _*)
}
