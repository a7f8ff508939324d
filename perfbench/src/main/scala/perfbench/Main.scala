package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftSparkExtensions, SparkEntry}
import graft.streaming.{WeatherIngest, WeatherReplayProvider}

/** The benchmark's JVM side. It runs one workload against the program's
  * public functions on the program's defaults, writes a run record
  * (timings, per-layer counters when traced, the results it saw) and
  * leaves every metric and every correctness judgement to run.py.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <fixtures dir>
  *        <inputs dir> <work dir> <record file>
  */
object Main {
  /** A slice of the ad-hoc SQL surface, every query oracle-backed: short
    * scan-and-filter queries near the scheduling floor, multi-way and
    * shuffle-bound joins, and events-table window and sessionisation queries.
    */
  val sqlQueries: Seq[String] =
    Seq(1, 5, 6, 13, 18, 19, 21).map(i => s"q_tpch_q$i") ++ Seq("q_win_rank", "q_win_lag")

  /** Set-up is repeated this many times per run and its median reported. */
  val SetupReps = 3

  /** Every operation runs at least this often per run, so a run slowed by a
    * busy host still takes each query's median over more than one sample.
    */
  val MinRounds = 2

  final case class Op(id: String, name: String, round: Int, ns: Long)

  def main(argv: Array[String]): Unit = {
    val mainUs = Tracer.nowUs
    val Array(workload, seedS, secondsS, traceS, fixtures, inputs, work, out) = argv
    if (sys.props.contains("graft.roundProbe")) {
      System.err.println("refusing to run: -Dgraft.roundProbe changes what is measured")
      sys.exit(3)
    }
    val seed = seedS.toLong
    val cores = Runtime.getRuntime.availableProcessors
    val tracer = new Tracer(traceS == "1")
    val bench: Bench = workload match {
      case "sql_adhoc" => new QueryBench(sqlQueries, fixtures, seed)
      case "etl_backfill" => new EtlBench(Paths.get(inputs), Paths.get(work))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setupS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      bench.warmUp(spark, tracer)
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    bench.warmRound(spark, tracer)
    val warmRoundS = (System.nanoTime() - warm0) / 1e9
    tracer.install(spark)

    // Whole rounds only, at least MinRounds of them; a further round starts
    // while the rounds so far, plus one more of their mean length, fit in
    // the measured window.
    val windowNs = (secondsS.toDouble * 1e9).toLong
    val t0 = System.nanoTime()
    var round = 0
    val roundS = mutable.ArrayBuffer.empty[Double]
    while (round < MinRounds || (System.nanoTime() - t0) * (round + 1) / round <= windowNs) {
      val timed0 = bench.timedNs
      bench.round(spark, tracer, round)
      roundS += (bench.timedNs - timed0) / 1e9
      round += 1
    }
    tracer.end(spark)

    val ops = bench.ops.toSeq
    val timedS = bench.timedNs / 1e9
    val layers = layerMeans(tracer, ops) ++ Map(
      "spark.busy_share" -> ops.map(o => tracer.opCounts(o.id).getOrElse("spark.executor_run_ms", 0.0)).sum /
        (timedS * 1000.0 * cores))
    val record = mutable.LinkedHashMap[String, Any](
      "main_entry_us" -> mainUs, "setup_reps_s" -> setupS, "warm_round_s" -> warmRoundS,
      "rounds" -> round, "timed_s" -> timedS, "round_s" -> roundS.toSeq,
      "ops" -> ops.map(o => Map("id" -> o.id, "name" -> o.name, "round" -> o.round, "ms" -> o.ns / 1e6)),
      "mismatches" -> bench.mismatches.toSeq,
      "oracle_sql" -> bench.names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "peak_rss_kb" -> peakRssKb(),
      "layers" -> (if (tracer.enabled) layers else Map.empty))
    record ++= bench.extra
    Files.writeString(Paths.get(out), Json.write(record), UTF_8)
    if (tracer.enabled)
      Files.write(Paths.get(out + ".trace.jsonl"), tracer.allSpans.map(s => Json.write(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs))).mkString("\n").getBytes(UTF_8))
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new GraftSparkExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Mean per operation of every counter the traced run kept. */
  def layerMeans(tracer: Tracer, ops: Seq[Op]): Map[String, Double] =
    if (!tracer.enabled || ops.isEmpty) Map.empty
    else {
      val per = ops.map(o => tracer.opCounts(o.id))
      per.flatMap(_.keys).distinct.map(k => k -> per.map(_.getOrElse(k, 0.0)).sum / ops.size).toMap
    }

  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** A workload: warm-up, whole rounds of the same operations, and the
  * results those operations returned.
  */
abstract class Bench {
  val ops = mutable.ArrayBuffer.empty[Main.Op]
  val mismatches = mutable.ArrayBuffer.empty[String]
  var timedNs = 0L
  def names: Seq[String] = Seq.empty
  def extra: Map[String, Any] = Map.empty
  def warmUp(spark: SparkSession, tracer: Tracer): Unit
  /** Runs once after the last set-up; its time counts in set-up, its operations nowhere. */
  def warmRound(spark: SparkSession, tracer: Tracer): Unit = ()
  def round(spark: SparkSession, tracer: Tracer, r: Int): Unit

  /** First round's encoded result of each named output; later rounds must
    * reproduce it exactly.
    */
  val firstResults = mutable.LinkedHashMap.empty[String, String]
  def keep(key: String, encoded: String): Unit = firstResults.get(key) match {
    case None => firstResults(key) = encoded
    case Some(e) => if (e != encoded) mismatches += key
  }
}

/** Closed-loop queries through `SparkEntry.queries`; each operation builds
  * the plan, runs it and collects the result. A round runs every query
  * once, in an order the seed shuffles.
  */
final class QueryBench(queries: Seq[String], dir: String, seed: Long) extends Bench {
  override def names: Seq[String] = queries
  override def extra: Map[String, Any] = Map("results" -> firstResults)

  def warmUp(spark: SparkSession, tracer: Tracer): Unit =
    SparkEntry.queries("q_tpch_q6")(spark, dir).collect()

  /** Every query once, so each has been planned, code-generated and
    * JIT-compiled before timing starts.
    */
  override def warmRound(spark: SparkSession, tracer: Tracer): Unit =
    queries.foreach(q => SparkEntry.queries(q)(spark, dir).collect())

  def round(spark: SparkSession, tracer: Tracer, r: Int): Unit = {
    val order = new scala.util.Random(seed * 7919 + r).shuffle(queries)
    order.zipWithIndex.foreach { case (name, i) =>
      val id = s"r$r/$i/$name"
      tracer.begin(spark, id)
      val us0 = Tracer.nowUs
      val t0 = System.nanoTime()
      val (df, buildNs) = tracer.span(s"$id/build", id, "queries.build") {
        SparkEntry.queries(name)(spark, dir)
      }
      val (rows, _) = tracer.span(s"$id/collect", id, "execute.collect")(df.collect())
      val ns = System.nanoTime() - t0
      timedNs += ns
      ops += Main.Op(id, name, r, ns)
      tracer.record(Span(id, "", name, us0, us0 + ns / 1000, Map.empty))
      tracer.add(id, "queries.build_ms", buildNs / 1e6)
      tracer.end(spark)
      keep(name, encode(df.schema.fieldNames, rows))
    }
  }

  def encode(cols: Seq[String], rows: Array[Row]): String =
    s"""{"columns":${Json.write(cols)},"rows":[""" +
      rows.map(r => (0 until r.length).map(i => Json.value(r.get(i))).mkString("[", ",", "]"))
        .mkString(",") + "]}"
}

/** The weather pipeline as a stream: the replay source drains a backlog
  * of payload files with Trigger.AvailableNow, and every micro-batch runs
  * `WeatherIngest.transform` then `WeatherIngest.merge` into the target,
  * which is materialised once per batch while the previous version is
  * released. Each round starts from a fresh checkpoint and the initial
  * target. A batch's latency is the time from the start of its
  * foreachBatch body to the start of the next one (to the end of the
  * query for the last), so it covers the trigger's own commits and
  * planning as well as the data path.
  */
final class EtlBench(inputs: Path, work: Path) extends Bench {
  private val conf = Files.readAllLines(inputs.resolve("feed.conf")).toArray.map(_.toString)
    .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
  private val ticksPerBatch = conf("ticks_per_batch")
  private val basePath = conf.get("base").map(b => inputs.resolve(b).toString)
  private val batchesPerRound = mutable.ArrayBuffer.empty[Int]
  override def extra: Map[String, Any] =
    Map("batches_per_round" -> batchesPerRound.toSeq, "final_table" -> firstResults("final"))

  /** The target before the round: the history rows, or no rows. */
  private def initialTarget(spark: SparkSession, withBase: Boolean): DataFrame = {
    import spark.implicits._
    val empty = WeatherIngest.transform(spark.emptyDataset[String])
    basePath.filter(_ => withBase)
      .fold(empty)(p => spark.read.parquet(p).select(empty.columns.map(col): _*))
      .localCheckpoint()
  }

  /** Drops the blocks of a target once its successor is materialised. */
  private def release(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  private def drain(spark: SparkSession, tracer: Tracer, feed: String, prefix: String,
      withBase: Boolean): (DataFrame, Seq[(Long, Long)], Long, Long) = {
    import spark.implicits._
    val ckpt = work.resolve(s"checkpoint-$prefix")
    deleteTree(ckpt)
    var target = initialTarget(spark, withBase)
    val batches = mutable.ArrayBuffer.empty[(Long, Long)]
    tracer.streamPrefix = prefix
    val t0 = System.nanoTime()
    val q = spark.readStream.format(classOf[WeatherReplayProvider].getName)
      .option("path", feed).option("maxTicksPerBatch", ticksPerBatch).load()
      .writeStream.option("checkpointLocation", ckpt.toString).outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val op = s"$prefix$id"
        tracer.begin(spark, op)
        val s = System.nanoTime()
        tracer.span(s"$op/body", op, "foreach_batch") {
          val (t, buildNs) = tracer.span(s"$op/transform", s"$op/body", "ingest.transform") {
            WeatherIngest.transform(batch.select("body").as[String])
          }
          val (next, mergeNs) = tracer.span(s"$op/merge", s"$op/body", "upsert.merge") {
            WeatherIngest.merge(target, t).localCheckpoint()
          }
          release(target)
          target = next
          tracer.add(op, "ingest.transform_build_ms", buildNs / 1e6)
          tracer.add(op, "upsert.merge_ms", mergeNs / 1e6)
          if (tracer.enabled) tracer.add(op, "upsert.target_rows", next.count().toDouble)
        }
        tracer.end(spark)
        batches += ((id, s))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (target, batches.toSeq, t0, System.nanoTime())
  }

  def warmUp(spark: SparkSession, tracer: Tracer): Unit =
    release(drain(spark, tracer, inputs.resolve("warm").toString, "warm/b", withBase = false)._1)

  /** One round's drain, so the upsert has run at full size before timing
    * starts: without it a run's batches still got faster through the first
    * 20 s of timing.
    */
  override def warmRound(spark: SparkSession, tracer: Tracer): Unit =
    release(drain(spark, tracer, inputs.resolve("feed").toString, "warm/r", withBase = true)._1)

  def round(spark: SparkSession, tracer: Tracer, r: Int): Unit = {
    val (target, batches, t0, t1) =
      drain(spark, tracer, inputs.resolve("feed").toString, s"r$r/b", withBase = true)
    timedNs += t1 - t0
    val ends = batches.drop(1).map(_._2) :+ t1
    batches.zip(ends).foreach { case ((id, s), e) =>
      ops += Main.Op(s"r$r/b$id", "micro_batch", r, e - s)
      tracer.add(s"r$r/b$id", "upsert.shuffle_bytes",
        tracer.opCounts(s"r$r/b$id").getOrElse("spark.shuffle_read_bytes", 0.0) +
          tracer.opCounts(s"r$r/b$id").getOrElse("spark.shuffle_write_bytes", 0.0))
    }
    batchesPerRound += batches.size
    val rows = target.collect().map(Json.row).sorted
    release(target)
    keep("final", rows.mkString("[", ",", "]"))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
    all.foreach(Files.delete)
  }
}
