package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The corpus tables the `ext` queries read, in the layout of the
  * repository's synthetic test data: `documents` (space-separated words
  * from a 30-word vocabulary, 10–99 words each, one document in twenty a
  * near-duplicate — another document's text plus " dup") and `embeddings`
  * (unit-length 64-dimensional vectors with a label 0–9). Made from the
  * seed alone.
  */
object ProbeData {
  val Vocab: IndexedSeq[String] = ("the a data row column table key value join group order sort filter " +
    "scan merge hash window batch stream spark query vector part line customer agg big small fast slow")
    .split(' ').toIndexedSeq
  val Langs: IndexedSeq[(String, Int)] = IndexedSeq("en" -> 38, "fr" -> 16, "es" -> 16, "zh" -> 15, "de" -> 15)
  val Dim = 64

  def write(spark: SparkSession, dir: Path, seed: Long, docs: Int, vectors: Int): Unit = {
    val rnd = new java.util.SplittableRandom(Mix.hash(seed, "probe-data"))
    val base = Array.tabulate(docs) { _ =>
      (1 to 10 + rnd.nextInt(90)).map(_ => Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
    }
    val text = base.indices.map { i =>
      if (rnd.nextInt(20) == 0) base((i + 1 + rnd.nextInt(docs - 1)) % docs) + " dup" else base(i)
    }
    val langTotal = Langs.map(_._2).sum
    def lang(): String = {
      var k = rnd.nextInt(langTotal); var i = 0
      while (k >= Langs(i)._2) { k -= Langs(i)._2; i += 1 }
      Langs(i)._1
    }
    val docRows = text.indices.map { i =>
      Row(i.toLong, text(i), lang(), s"src${i % 20}", text(i).length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val vecRows = (0 until vectors).map { i =>
      val v = Array.fill(Dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, rnd.nextInt(10))
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    Seq(("documents", docRows, docSchema), ("embeddings", vecRows, vecSchema)).foreach { case (t, rows, schema) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(dir.resolve(s"$t.parquet").toString)
    }
  }
}

/** One pass over a pinned query per `ext` module — Similarity, Dedup,
  * TextAnalysis, TrainingPipeline — from `SparkEntry.queries`, over
  * corpus tables made from the seed, each query materialized through the
  * noop sink. Caches are released between queries, outside the timing.
  * An untimed pass before the measured ones writes every result instead,
  * for `run.py` to compare with the query's DuckDB oracle
  * (`SparkEntry.oracleSql`).
  */
final class QueryProbe extends Workload("query_probe") {
  import Harness._

  val minJobs = 1
  val Docs = 500
  val Vectors = 500
  def reports: Seq[(String, Int)] = Nil

  /** A plain session, as `graft.Bench` builds one for its probe. */
  override def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def tables(env: Env) = env.dir.resolve("tables")

  override def prepare(env: Env): Unit =
    group(env.spark, "setup")(ProbeData.write(env.spark, tables(env), env.seed, Docs, Vectors))

  private def query(name: String) = SparkEntry.queries.find(_._1 == name).map(_._2)
    .getOrElse(sys.error(s"$name is not in SparkEntry.queries"))

  /** A pass that writes each query's result, with the query's oracle, for
    * the check. Untimed, so the queries run side by side: their first, cold
    * run in the JVM is mostly single-threaded planning and code generation.
    */
  override def beforeJobs(env: Env): Unit = {
    val out = env.dir.resolve("results")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(QueryProbe.Queries.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(QueryProbe.Queries.map { q =>
      Future(group(env.spark, "check") {
        query(q)(env.spark, tables(env).toString).write.parquet(out.resolve(q).toString)
      })
    }), Duration.Inf)
    finally pool.shutdown()
    sweep(env.spark)
    val oracles = QueryProbe.Queries.map { q =>
      val sql = SparkEntry.oracleSql.getOrElse(q, sys.error(s"$q has no oracle"))
      s"${Json.str(q)}: ${Json.str(sql)}"
    }
    Files.write(env.dir.resolve("oracles.json"), oracles.mkString("{", ", ", "}").getBytes("UTF-8"))
  }

  override def job(env: Env, j: Int, traced: Boolean): JobOutcome = {
    val spark = env.spark
    val probe = new Probe(env)
    val gc0 = Jvm.gcMs
    var sweepGcMs = 0L
    var passNs = 0L
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val ms = QueryProbe.Queries.map { q =>
      val t0 = System.nanoTime()
      try spans(s"query.$q", j)(group(spark, s"query.$q") {
        query(q)(spark, tables(env).toString).write.format("noop").mode("overwrite").save()
      }) catch { case e: Exception => problems += s"$q: ${e.getMessage}" }
      val dt = System.nanoTime() - t0
      passNs += dt
      val g = Jvm.gcMs
      sweep(spark)
      sweepGcMs += Jvm.gcMs - g
      q -> dt / 1e6
    }
    val layer = if (!traced) Map.empty[String, Double] else {
      val c = phaseCounters(env)
      // the sweeps' explicit collections are harness hygiene, not query cost
      probe.finish(0, 0, 0L, 0.0, 0.0, c, ms.flatMap { case (q, t) =>
        val pc = c.getOrElse(s"query.$q", new PhaseCounters)
        Seq(s"query.$q.ms" -> t, s"query.$q.jobs" -> pc.jobs.toDouble,
          s"query.$q.shuffle_bytes" -> pc.shuffleBytes.toDouble)
      }.toMap + ("jvm.gc_ms" -> (Jvm.gcMs - gc0 - sweepGcMs).toDouble))
    }
    val n = QueryProbe.Queries.size
    JobOutcome(passNs / 1e9, 0.0, n, n - problems.size, problems.size, Nil, problems.toSeq, layer)
  }

  /** Drop cached tables and persisted RDDs (localCheckpoint blocks too),
    * and let the context cleaner reclaim shuffle files.
    */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}

object QueryProbe {
  /** One per `ext` module. */
  val Queries: Seq[String] = Seq("sim_topk_bruteforce", "dedup_minhash", "text_perplexity", "pipeline_training_set")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
