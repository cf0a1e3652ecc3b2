package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A check deferred to run.py, which holds the DuckDB oracle: `kind` is
  * "oracle" (the parquet at `path` equals what `sql` returns over the
  * corpus at `sf`) or "no_dup" (the parquet at `path` has rows, and none of
  * its doc ids is the larger id `db` of a near-duplicate pair `sql`
  * returns). It judges the op at index `op`. */
final case class Deferred(kind: String, name: String, path: String, sf: String,
    sql: String, op: Int)

/** What a workload's code sees: the session, the tracer, the corpus and a
  * private working directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val corpus: String,
    val work: String, val seed: Long) {
  val deferred = ArrayBuffer.empty[Deferred]
  /** Index of the timed op running now (-1 outside the timed region). */
  var opIndex = -1

  /** True inside a traced run's timed ops, where layer facts are counted. */
  def measuring: Boolean = tracer.on && opIndex >= 0

  def sf(scale: String): String = s"$corpus/sf$scale"

  /** Executes the full plan and discards the rows, as graft.Bench does. */
  def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Writes `df` as parquet under the working directory; returns the path. */
  def save(df: DataFrame, rel: String): String = {
    val path = s"$work/out/$rel"
    df.write.mode("overwrite").parquet(path)
    path
  }
}

/** One operation of a pass. `run` is the timed region; the check it
  * returns runs afterwards, untimed, and gives an error message for a
  * wrong output. */
final case class Op(name: String, run: () => (() => Option[String]))

object Op {
  val ok: () => Option[String] = () => None
}

trait Workload {
  /** Builds the workload's inputs and references from the seed and the
    * corpus. */
  def generate(): Unit
  /** The untimed warm pass: first-touch class loading and codegen. */
  def warm(): Unit
  /** The ops of pass `p`. */
  def pass(p: Int): Seq[Op]
  /** Nominal seconds of one timed pass on local[4]: a run times
    * round(--seconds / passSeconds) whole passes, at least one, so every
    * run of a workload does the same work however fast it goes. */
  def passSeconds: Double
  /** Workload facts for the result file, as JSON values. */
  def facts: Seq[(String, String)] = Nil
}

/** Runs one workload in a fresh JVM and writes its raw measurements as JSON
  * for run.py, which turns them into metrics.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --corpus DIR
  *      --work DIR --out FILE --launched EPOCH_MS
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val launched = a("launched").toDouble

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val tracer = new Tracer(spark, traced)
    val sessionReady = tracer.now()
    val ctx = new Ctx(spark, tracer, a("corpus"), work, seed)
    val wl: Workload = name match {
      case "dedup_pipeline" => new DedupPipeline(ctx)
      case "manifest_rw" => new ManifestRw(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(f: => Unit): Double = { val t = tracer.now(); f; tracer.now() - t }
    val generateMs = timed(wl.generate())
    val warmMs = timed { wl.warm(); spark.sharedState.cacheManager.clearCache() }
    System.gc()
    val firstOp = tracer.now()

    val passes = math.max(1, math.round(seconds / wl.passSeconds).toInt)
    val ops = ArrayBuffer.empty[String]
    val (cg0, cgNs0) = tracer.codegen()
    for (p <- 0 until passes) {
      if (p > 0) System.gc()
      wl.pass(p).foreach { op =>
        val i = ops.size
        ctx.opIndex = i
        tracer.beginOp(i)
        val t0 = tracer.now()
        val res = try Right(tracer.span("op", op.name)(op.run()))
          catch { case e: Throwable => Left(e) }
        val t1 = tracer.now()
        val blocks = if (traced) tracer.cachedBlocks() else 0L
        val err = res match {
          case Left(e) => Some("threw " + e.toString.take(300))
          case Right(check) =>
            try check() catch { case e: Throwable => Some("check threw " + e.toString.take(300)) }
        }
        spark.sharedState.cacheManager.clearCache()
        err.foreach(m => System.err.println(s"[perfbench] op $i ${op.name} failed: $m"))
        ops += Json.obj(Seq("name" -> Json.str(op.name),
          "pass" -> p.toString, "t0" -> Json.num(t0), "t1" -> Json.num(t1),
          "error" -> err.fold("null")(Json.str), "cached_blocks" -> blocks.toString))
      }
    }
    ctx.opIndex = -1
    val (cg1, cgNs1) = tracer.codegen()

    val deferred = ctx.deferred.map { d =>
      Json.obj(Seq("kind" -> Json.str(d.kind), "name" -> Json.str(d.name),
        "path" -> Json.str(d.path), "sf" -> Json.str(d.sf), "sql" -> Json.str(d.sql),
        "op" -> d.op.toString))
    }
    val out = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "cpus" -> cpus.toString,
      "launched" -> Json.num(launched), "session_ready" -> Json.num(sessionReady),
      "generate_ms" -> Json.num(generateMs), "warm_ms" -> Json.num(warmMs),
      "first_op" -> Json.num(firstOp), "passes" -> passes.toString,
      "ops" -> ops.mkString("[", ",", "]"),
      "deferred" -> deferred.mkString("[", ",", "]"),
      "codegen_compiles" -> (cg1 - cg0).toString,
      "codegen_ms" -> Json.num((cgNs1 - cgNs0) / 1e6),
      "peak_rss_kb" -> peakRssKb().toString,
      "facts" -> Json.obj(wl.facts),
      "trace" -> (if (traced) tracer.toJson else "null")))
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
    // run.py removes the working directory, so skip Spark's orderly stop
    Runtime.getRuntime.halt(0)
  }

  /** The session posture graft.Bench times under, on local[cpus]. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      .config("spark.sql.files.minPartitionNum", (2 * cpus).toString)
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The JVM's resident-set high-water mark (VmHWM), in KiB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }
}
