package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The long-tail floor: a seeded, stratified sample of the declared query
  * surface at sf0.01, each query built and run once into a `noop` sink.
  * Per-query fixed cost (construction and its eager jobs, planning,
  * codegen, small jobs) is most of the time here and `cmf` does little. */
object QuerySweep extends Workload {
  val name = "query_sweep"

  /** Queries drawn from each of the 8 query modules. One run on a 4-core
    * box has room for about 16 cold queries at sf0.01. */
  val PerModule = 1
  /** The sample and its run order are drawn once with this constant seed,
    * so every run times the same queries in the same order, whatever
    * `--seed` is. Cold per-query time is heavy-tailed (0.5 s to 6 s) and
    * the first queries after start-up pay most of the JIT and codegen: a
    * seeded order alone moved the median query time between 2.8 s and
    * 3.7 s over four seeds. */
  val SampleSeed = 20261017L
  val Warmup = "q1_agg"
  /** Write option that tags a sweep query's sink, so its row count can be
    * read back from the finished write. */
  val Tag = "perfbench.query"

  val writeSteps = Set("queries.build")
  val requestStep = "bench.query"

  def modules: Seq[(String, Iterable[String])] = Seq(
    "Relational" -> graft.queries.Relational.queries.keys,
    "OpsQueries" -> graft.queries.OpsQueries.queries.keys,
    "EvalQueries" -> graft.queries.EvalQueries.queries.keys,
    "CmfQueries" -> graft.queries.CmfQueries.queries.keys,
    "DedupSimQueries" -> graft.queries.DedupSimQueries.queries.keys,
    "StreamMmQueries" -> graft.queries.StreamMmQueries.queries.keys,
    "SourceQueries" -> graft.queries.SourceQueries.queries.keys,
    "StatQueries" -> graft.queries.StatQueries.queries.keys)

  private def shuffled(xs: Seq[String], r: SplittableRandom): Seq[String] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** `PerModule` names from each module, in run order. */
  def sample: Seq[String] = {
    val draw = new SplittableRandom(SampleSeed)
    shuffled(modules.flatMap { case (_, names) =>
      shuffled(names.toSeq.filter(_ != Warmup).sorted, draw).take(PerModule)
    }, draw)
  }

  /** Row counts of noop writes tagged with [[Tag]], by query name. */
  final class RowCounter extends QueryExecutionListener {
    val rows = mutable.HashMap.empty[String, Long]
    private def writeRows(p: SparkPlan): Option[Long] = p match {
      case c: CommandResultExec => writeRows(c.commandPhysicalPlan)
      case w: V2TableWriteExec => w.commitProgress.map(_.numOutputRows)
      case _ => None
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.logical match {
        case o: OverwriteByExpression =>
          for (n <- o.writeOptions.get(Tag); r <- writeRows(qe.executedPlan))
            synchronized(rows(n) = r)
        case _ =>
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def sink(df: DataFrame, query: String): Unit =
    df.write.format("noop").mode("overwrite").option(Tag, query).save()

  def readExpected(path: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, r) = l.split("\t"); n -> r.toLong
    }.toMap
    finally src.close()
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val counter = new RowCounter
    spark.listenerManager.register(counter)
    val (expected, names) = c.generate(3) {
      (readExpected(s"${c.benchDir}/query_rows_sf0.01.tsv"), sample)
    }
    c.out.info ++= Seq(
      "seed" -> c.seed.toString, "sf_dir" -> Json.str(c.dataDir),
      "queries" -> names.length.toString,
      "sample" -> Json.arr(names.map(Json.str)))
    c.setupPart("warmup")(sink(SparkEntry.queries(Warmup)(spark, c.dataDir), Warmup))
    c.span("bench.pass") {
      for (q <- names) c.op(requestStep) {
        val df = c.span("queries.build")(SparkEntry.queries(q)(spark, c.dataDir))
        c.span("queries.run")(sink(df, q))
      }
    }
    c.sampleStorage()
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val got = counter.synchronized(counter.rows.toMap)
    for (q <- names) c.check(expected.get(q).exists(e => got.get(q).contains(e)),
      s"$q: ${got.get(q).fold("no row count")(n => s"$n rows")}, recorded " +
        expected.get(q).fold("none")(_.toString))
    for (ms <- c.tracer.times(requestStep)) c.sample("query_ms", ms, "ms")
  }

  /** Runs every declared query once at `dataDir` and writes its row count
    * to `path`, one `name<TAB>rows` line each, sorted by name. */
  def record(spark: SparkSession, dataDir: String, path: String): Unit = {
    val counter = new RowCounter
    spark.listenerManager.register(counter)
    val names = modules.flatMap(_._2).sorted
    val failed = names.filter { q =>
      try { sink(SparkEntry.queries(q)(spark, dataDir), q); false }
      catch { case e: Exception => System.err.println(s"$q failed: ${e.getMessage}"); true }
    }
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val rows = counter.synchronized(counter.rows.toMap)
    val lines = names.filterNot(failed.contains).map(q => s"$q\t${rows(q)}")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      ("# rows each query writes at sf0.01 (name<TAB>rows); regenerate with run.py --record-rows\n" +
        lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    require(failed.isEmpty, s"queries failed: ${failed.mkString(", ")}")
  }
}
