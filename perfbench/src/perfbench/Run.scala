package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run produced, besides its spans. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  /** Failed output checks and operation errors, in order. */
  val problems = mutable.ArrayBuffer.empty[String]
  /** The workload's own end-to-end figures: (unit, one value per pass or
    * call); reported as medians. */
  val samples = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  /** Input description and sample lists, as raw JSON values. */
  val info = mutable.LinkedHashMap.empty[String, String]
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  var peakCachedBytes = 0L
}

/** The state a workload runs against: session, tracer, seed, run length
  * and the outcome it fills in. Workloads are one closed-loop caller: each
  * operation starts when the previous one has returned. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Int, val benchDir: String) {
  val out = new Outcome
  /** The sf0.01 tables, a byte-identical copy of the project's test data. */
  def dataDir: String = s"$benchDir/data/sf0.01"

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** One attempted operation; a throw counts it failed and returns None. */
  def op[T](name: String)(body: => T): Option[T] = {
    out.attempted += 1
    try Some(span(name)(body))
    catch {
      case e: Exception =>
        out.failed += 1
        out.problems += s"$name: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        None
    }
  }

  /** An output check. A failed check makes the run incorrect and counts as
    * a failed operation. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { out.failed += 1; out.problems += s"check failed: $what" }

  def sample(name: String, value: Double, unit: String): Unit =
    out.samples.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty[Double]))._2 += value

  def setupPart[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = span(s"bench.setup.$name")(body)
    out.setupParts(name) = out.setupParts.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  /** Builds the inputs `times` times and keeps the last build; set-up time
    * counts the median build. */
  def generate[T](times: Int)(build: => T): T = {
    val runs = Seq.fill(times) {
      val t0 = System.nanoTime()
      val r = span("bench.setup.generate")(build)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    out.setupParts("generate") = Stats.median(runs.map(_._2))
    runs.last._1
  }

  /** Runs passes back to back until `seconds` have elapsed (at least one
    * pass), or until a pass has a failed operation. */
  def loop(pass: => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    var ok = true
    while (ok && (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val before = out.failed
      span("bench.pass")(pass)
      sampleStorage()
      ok = out.failed == before
      n += 1
    }
  }

  /** Peak bytes of cached RDD blocks (memory and disk), sampled after
    * each step that may hold them. */
  def sampleStorage(): Unit = {
    val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    out.peakCachedBytes = math.max(out.peakCachedBytes, b)
  }

  /** Materializes a frame as cached blocks (used to time a step whose
    * result later steps read). */
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    sampleStorage()
    p
  }
}

/** What a workload is: its name, its set-up and passes, and which spans
  * the shared end-to-end metrics read. */
trait Workload {
  def name: String
  /** Spans (anywhere under a pass) that build state: fits, indexes,
    * query construction. Their per-pass sum is `write_s` in the result
    * file, and their Spark work is `write.*`. */
  def writeSteps: Set[String]
  /** The span timed as one request for `req_p50_ms`. */
  def requestStep: String
  /** Set-up (inputs, warm-up) then the measured loop. */
  def run(c: Ctx): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")

  def metric(v: Double, unit: String): String =
    obj(Seq("value" -> num(v), "unit" -> str(unit)))
}
