package graft.bench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One reported number: what it is, how it was aggregated and from how
  * many samples. */
final case class Metric(name: String, value: Double, unit: String, stat: String, samples: Long)

object Stats {
  /** Percentile with linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** The live session of a run and the benchmark's listeners on it. */
final class Ctx(val spark: SparkSession) {
  val layer = new LayerListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(layer)
  spark.streams.addListener(progress)
  def drainEvents(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Minimal JSON rendering of maps, sequences, strings, numbers, booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance
        .quoteAsString(s).mkString("\"", "", "\"")
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product with Serializable if p.productArity > 0 =>
      json(p.productElementNames.zip(p.productIterator).toMap)
    case other => json(other.toString)
  }
}
