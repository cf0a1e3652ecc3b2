package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.ManifestTable
import graft.operators.ManifestTable.{ColEq, ColGe, ColLt, StatsPred}

/** manifest_rw: each pass writes seed-generated event batches into a fresh
  * manifest table and reads it between the writes, in a fixed order (the
  * seed makes the rows). Every read is checked against the same operations
  * applied to an in-memory copy of the table; a pruned read must equal the
  * plain filter. */
final class ManifestRw(ctx: Ctx) extends Workload {
  import ManifestRw._
  import ctx.tracer.span

  private val spark = ctx.spark
  /** A live row of the in-memory copy: its fields and the version that
    * added the data file holding it (what readIncremental goes by). */
  private final case class Live(ts: Long, user: Int, amount: Long, version: Long)

  /** Per pass: three batches and one upsert, built on the driver. */
  private var batches: IndexedSeq[Seq[Row]] = IndexedSeq.empty
  private var updates: Seq[Row] = Nil
  private val deleteUser = (ctx.seed % Users + Users) % Users
  private val bytes = mutable.LinkedHashMap.empty[String, Long]
  private val plainBytes = mutable.LinkedHashMap.empty[String, Long]
  private var keptFiles = 0L
  private var prunedFiles = 0L
  private var liveFiles = 0L
  private var finalBytes = 0L
  private var finalPlainBytes = 0L

  def generate(): Unit = {
    val r = new java.util.SplittableRandom(ctx.seed)
    def event(id: Long): Row =
      Row(id, BaseTs + id, r.nextInt(Users.toInt), r.nextLong(100000L), Cats(r.nextInt(Cats.size)))
    batches = (0 until Batches).map(b => (0L until BatchRows).map(i => event(b * BatchRows + i)))
    // keys of the first batch (always committed before the upsert runs)
    // plus keys no batch holds, so no later commit can duplicate a key
    val keys = (0 until UpdateRows).map(_ => r.nextLong(BatchRows)).distinct ++
      (0L until UpdateRows / 10).map(Batches * BatchRows + _)
    updates = keys.map(event)
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Schema)

  /** Bytes of every file under `dir`. */
  private def du(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** In a traced run, adds the bytes `dir` grew by since `before` to op
    * kind `kind`, and the bytes of the op's user rows as plain parquet;
    * returns the directory's size. Called after the op, outside timing. */
  private def account(kind: String, dir: String, before: Long, rows: Seq[Row]): Long =
    if (!ctx.measuring) before
    else {
      val now = du(dir)
      bytes(kind) = bytes.getOrElse(kind, 0L) + now - before
      if (rows.nonEmpty) {
        val plain = s"${ctx.work}/plain/${ctx.opIndex}"
        frame(rows).write.mode("overwrite").parquet(plain)
        plainBytes(kind) = plainBytes.getOrElse(kind, 0L) + du(plain)
      }
      now
    }

  /** count, sum(id), sum(user), sum(amount) of a read, observed while the
    * noop sink consumes it. */
  private def observed(df: DataFrame): Observation = {
    val obs = new Observation()
    ctx.force(df.observe(obs, count(lit(1)).as("n"), sum("id").as("id"),
      sum("user").as("user"), sum("amount").as("amount")))
    obs
  }

  private def checkRead(obs: Observation, want: Iterable[(Long, Live)]): Option[String] = {
    val g = obs.get
    def l(k: String): Long = Option(g(k)).fold(0L)(_.asInstanceOf[Number].longValue)
    val got = Seq(l("n"), l("id"), l("user"), l("amount"))
    val exp = Seq(want.size.toLong, want.map(_._1).sum, want.map(_._2.user.toLong).sum,
      want.map(_._2.amount).sum)
    if (got == exp) None else Some(s"read (n, id, user, amount) = $got, expected $exp")
  }

  /** The ops of one table lifecycle in `dir`. */
  private def lifecycle(dir: String): Seq[Op] = {
    val state = mutable.HashMap.empty[Long, Live]
    var first = -1L
    var size = 0L
    def applyRows(rows: Seq[Row], v: Long): Unit = rows.foreach { r =>
      state(r.getLong(0)) = Live(r.getLong(1), r.getInt(2), r.getLong(3), v)
    }
    def commit(b: Int) = Op(s"commit", () => {
      val v = span("manifest", "commit") {
        ManifestTable.commit(spark, dir, frame(batches(b)), statsCols = StatsCols,
          bloomCols = BloomCols)
      }
      () => {
        size = account("commit", dir, size, batches(b))
        applyRows(batches(b), v)
        if (first < 0) first = v
        None
      }
    })
    val (lo, hi) = (BaseTs + BatchRows / 2, BaseTs + BatchRows + BatchRows / 2)
    val point = BatchRows + 7L
    def pruned(name: String, preds: Seq[StatsPred], keep: (Long, Live) => Boolean) =
      Op(name, () => {
        val obs = span("manifest", "pruned_read")(observed(ManifestTable.readPruned(spark, dir, preds)))
        () => {
          val want = state.filter { case (id, l) => keep(id, l) }
          if (ctx.measuring) {
            val (k, total) = ManifestTable.pruneFiles(spark, dir, preds)
            keptFiles += k.size
            prunedFiles += total
          }
          checkRead(obs, want)
        }
      })
    val upsert = Op("upsert", () => {
      val v = span("manifest", "upsert") {
        ManifestTable.upsertMor(spark, dir, frame(updates), Seq("id"),
          statsCols = StatsCols, bloomCols = BloomCols)
      }
      () => {
        size = account("upsert", dir, size, updates)
        applyRows(updates, v)
        None
      }
    })
    val delete = Op("delete", () => {
      span("manifest", "delete") {
        ManifestTable.deleteWhere(spark, dir, col("user") % Users === deleteUser)
      }
      () => {
        size = account("delete", dir, size, Nil)
        state.filterInPlace { case (_, l) => l.user % Users != deleteUser }
        None
      }
    })
    val optimize = Op("optimize", () => {
      val v = span("manifest", "optimize") {
        ManifestTable.optimize(spark, dir, 2, statsCols = StatsCols, bloomCols = BloomCols)
      }
      () => {
        size = account("optimize", dir, size, Nil)
        state.mapValuesInPlace((_, l) => l.copy(version = v))
        None
      }
    })
    val read = Op("read", () => {
      val obs = span("manifest", "read")(observed(ManifestTable.read(spark, dir)))
      () => checkRead(obs, state)
    })
    val readRange = pruned("read_range", Seq(ColGe("ts", lo), ColLt("ts", hi)),
      (_, l) => l.ts >= lo && l.ts < hi)
    val readPoint = pruned("read_point", Seq(ColEq("id", point)), (id, _) => id == point)
    val readIncremental = Op("read_incremental", () => {
      val obs = span("manifest", "incremental_read")(
        observed(ManifestTable.readIncremental(spark, dir, first)))
      () => checkRead(obs, state.filter(_._2.version > first))
    })
    // a fixed script, so every pass does the same work: ten reads beside
    // six writes, reads after each kind of write
    Seq(commit(0), readPoint, commit(1), readRange, readPoint, upsert, read, readPoint,
      delete, readIncremental, readRange, commit(2), optimize, readPoint, read, readRange)
  }

  /** One untimed lifecycle at full size, so the timed passes start with
    * the JIT past its first-pass compiles. */
  def warm(): Unit = lifecycle(s"${ctx.work}/tables/warm").foreach { op =>
    op.run()().foreach(m => throw new IllegalStateException(s"warm ${op.name}: $m"))
  }

  val passSeconds = 6.5

  /** One pass is one table lifecycle; its last op also records, in a
    * traced run, the table's live files and stored bytes. */
  def pass(p: Int): Seq[Op] = {
    val dir = s"${ctx.work}/tables/p$p"
    val ops = lifecycle(dir)
    ops.init :+ ops.last.copy(run = () => {
      val check = ops.last.run()
      () => {
        val err = check()
        if (ctx.measuring) {
          liveFiles += ManifestTable.pruneFiles(spark, dir, Nil)._2
          finalBytes += du(dir)
          val plain = s"${ctx.work}/plain/live$p"
          ManifestTable.read(spark, dir).write.mode("overwrite").parquet(plain)
          finalPlainBytes += du(plain)
        }
        err
      }
    })
  }

  override def facts: Seq[(String, String)] = Seq(
    "batch_rows" -> BatchRows.toString, "update_rows" -> updates.size.toString,
    "bytes_written" -> Json.obj(bytes.toSeq.map { case (k, v) => k -> v.toString }),
    "plain_bytes" -> Json.obj(plainBytes.toSeq.map { case (k, v) => k -> v.toString }),
    "files_kept" -> keptFiles.toString, "files_considered" -> prunedFiles.toString,
    "files_live" -> liveFiles.toString, "final_bytes" -> finalBytes.toString,
    "final_plain_bytes" -> finalPlainBytes.toString)
}

object ManifestRw {
  val Batches = 3
  val BatchRows = 20000L
  val UpdateRows = 2000
  val Users = 50L
  val BaseTs = 1700000000L
  val Cats = IndexedSeq("a", "b", "c", "d", "e", "f", "g", "h")
  val StatsCols = Seq("ts", "amount")
  val BloomCols = Seq("id")
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("ts", LongType, nullable = false),
    StructField("user", IntegerType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("cat", StringType, nullable = false)))
}
