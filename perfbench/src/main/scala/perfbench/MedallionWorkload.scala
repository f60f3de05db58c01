package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** `medallion_incremental`: a closed loop with one client. Each cycle lands
  * an incremental batch, runs it through ingest, silver, gold and the
  * pipeline epoch, then runs one [[Reader]] cycle of epoch-pinned reads.
  *
  * The warehouse is set up by an initial load, done [[Setups]] times into
  * fresh warehouses (`setup_s` is their median). The first warehouse also
  * runs one untimed cycle to warm the JVM; the timed cycles run on the last
  * one, starting with the same batch the warm-up cycle ran. A traced run
  * alternates untraced and traced cycles, so it can report the cost of
  * tracing itself. */
object MedallionWorkload {
  val Setups = 2
  val scale = Scale(customers = 2000, products = 200, orders = 10000)
  val dimBuckets = 8
  /** Customers whose order history the point read fetches. */
  val PointCustomers = 8
  /** Batches staged before the timed part starts. */
  val PreStaged = 4

  def nowOf(b: Int): Column = lit(new java.sql.Timestamp(Model.batchMillis(b)))

  /** Answers the engine must give for the reads pinned to one epoch. */
  final case class Expected(star: Map[(String, Int), (Long, Long)],
      asOf: Map[String, (Long, Long)], customerDiff: Long, facts: Long,
      points: Map[Long, (Long, Long)])

  /** A loaded warehouse with the generator and model that track it. */
  final class Live(val w: Warehouse, gen: MedallionGen, val model: Model,
      points: Seq[Long]) {
    val expected = new ConcurrentHashMap[Int, Expected]()
    private def snapshot(): Unit =
      expected.put(model.applied + 1, Expected(model.star(), model.asOf(),
        model.customerDiff, model.facts.size.toLong,
        points.map(c => c -> model.point(c)).toMap))
    snapshot()
    // the first epoch has no earlier customer_dim version to diff against
    expected.put(1, expected.get(1).copy(customerDiff = 0))
    /** Generate and stage the next batch. */
    def stageNext(): Batch = { val b = gen.next(); w.stage(b); b }
    /** Fold a batch about to land into the model and its read answers. */
    def fold(b: Batch): Batch = { model.apply(b); snapshot(); b }
  }

  /** Initial load of a fresh warehouse `i` from the staged initial files;
    * returns it with the seconds the load took. */
  private def load(ctx: RunContext, i: Int, staged: Path): (Live, Double) = {
    val gen = new MedallionGen(ctx.seed, scale)
    val model = new Model
    model.apply(gen.initial())
    val w = new Warehouse(ctx.spark, ctx.work.resolve(s"wh$i"), dimBuckets, ctx.tracer)
    w.stageFrom(staged, 0)
    val t0 = System.nanoTime()
    ctx.tracer.operation(-i, traced = false)(w.process(0, w.land(0), nowOf(0)))
    val s = (System.nanoTime() - t0) / 1e9
    val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    (new Live(w, gen, model,
      Seq.fill(PointCustomers)(1L + rnd.nextInt(scale.customers)).distinct), s)
  }

  def run(ctx: RunContext): Outcome = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def batch(live: Live, b: Batch, traced: Boolean): Double =
      ctx.tracer.operation(b.index, traced) {
        val t0 = System.nanoTime()
        val epoch = ctx.tracer.span("batch") {
          live.w.process(b.index, live.w.land(b.index), nowOf(b.index))
        }
        if (epoch != b.index + 1) errors.add(s"batch ${b.index} published epoch $epoch")
        (System.nanoTime() - t0) / 1e9
      }
    // digest of the initial and pre-staged input files, the same set in
    // every run, to show the seed fixes the inputs
    val inputs = java.security.MessageDigest.getInstance("SHA-256")
    def digest(files: Seq[Path]): Unit = files.foreach(f => inputs.update(Files.readAllBytes(f)))
    val staged = ctx.work.resolve("initial")
    val initial = new Warehouse(ctx.spark, staged, dimBuckets, ctx.tracer)
    initial.stage(new MedallionGen(ctx.seed, scale).initial())
    digest(initial.stagedFiles(0))

    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var live: Live = null
    (1 to Setups).foreach { i =>
      if (live != null) {
        // warm-up cycle, then a fresh warehouse for the next set-up
        batch(live, live.fold(live.stageNext()), traced = false)
        new Reader(ctx, live, errors).cycle(record = false, traced = false)
        Warehouse.delete(live.w.root)
        ctx.phase("warm")
      }
      val (l, s) = load(ctx, i, staged)
      live = l
      setupTimes += s
    }
    ctx.phase("setup")

    val reader = new Reader(ctx, live, errors)
    val ops = mutable.ArrayBuffer.empty[Op]
    val layer = new LayerAccumulator
    var landedRows = 0L
    // storage after the first timed batch: the same history in every run,
    // however many batches fit in the timed part
    var amplification = 0.0
    // pre-stage the batches a run usually needs; more are staged on demand
    val prestaged = mutable.Queue.fill(PreStaged)(live.stageNext())
    prestaged.foreach(b => digest(live.w.stagedFiles(b.index)))
    ctx.timedStart()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    // at least two cycles, so that a traced run, which alternates untraced
    // and traced cycles, has one of each
    while (ops.size < 2 || System.nanoTime() < deadline) {
      val traced = ctx.trace && ops.size % 2 == 1
      val b = live.fold(if (prestaged.nonEmpty) prestaged.dequeue() else live.stageNext())
      landedRows += b.rows
      val bytes = live.w.stagedFiles(b.index)
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
      ops += Op("batch", "batch", batch(live, b, traced), traced)
      if (ops.size == 1) {
        val (all, liveBytes) = live.w.storage()
        amplification = all.toDouble / liveBytes
      }
      reader.cycle(record = true, traced = traced)
      if (traced) layer.batch(ctx, live, b, bytes)
    }
    ctx.timedEnd()
    ctx.phase("timed")
    val gate = Gate.check(live.w, live.model, live.w.currentEpoch)
    val batchErrors = gate ++ errors.asScala.filter(_.startsWith("batch"))
    Outcome(setupTimes.toSeq, ops.toSeq ++ reader.ops, "batch", ops.size + reader.ops.size,
      (if (batchErrors.nonEmpty) ops.size else 0) + reader.failed,
      gate ++ errors.asScala, amplification,
      layer.result(),
      Map("dim_buckets" -> dimBuckets, "landed_rows" -> landedRows,
        "batches" -> ops.size, "reads" -> reader.ops.size,
        "rows_per_s" -> landedRows / ctx.timed._1,
        "inputs_sha256" -> inputs.digest().map(b => f"$b%02x").mkString))
  }
}

/** Epoch-pinned reads after each batch: one read of each kind, each
  * pinned to the newest epoch, reading the gold tables through
  * `PipelineEpoch.readAt` (and `Catalog.versionRead` for the version
  * diff) and checked against the model's answer for that epoch.
  *
  * The reads run between batches, not beside them: a read pinned to an
  * epoch can today lose its files to, or see the data of, a concurrent
  * bucketed commit that swaps the live bucket directories it resolved
  * (see the benchmark README). */
final class Reader(ctx: RunContext, live: MedallionWorkload.Live,
    errors: java.util.Queue[String]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var failed = 0
  private val kinds = Seq("star", "asof", "history", "point")
  private val points = live.expected.get(1).points.keys.toSeq.sorted
  private var cycles = 0

  /** One read of each kind, recorded as timed operations when `record`. */
  def cycle(record: Boolean, traced: Boolean): Unit = {
    kinds.foreach { kind =>
      val t0 = System.nanoTime()
      val ok = ctx.tracer.operation(1000000L + cycles * kinds.size + ops.size, traced) {
        ctx.tracer.span(s"read.$kind")(read(kind))
      }
      if (record) {
        if (!ok) failed += 1
        ops += Op("read", kind, (System.nanoTime() - t0) / 1e9, traced)
      }
    }
    cycles += 1
  }

  private def cents(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).multiply(100).cast("long")

  /** One read pinned to the newest epoch; false (with the reason queued)
    * when it fails or the answer is wrong. */
  private def read(kind: String): Boolean = {
    val e = live.w.currentEpoch
    try query(kind, e) catch { case ex: Exception =>
      errors.add(s"read.$kind at epoch $e: ${ex.getClass.getSimpleName}: ${ex.getMessage}".take(300))
      false
    }
  }

  private def query(kind: String, e: Int): Boolean = {
    val want = live.expected.get(e)
    def fail(msg: String): Boolean = { errors.add(s"read.$kind at epoch $e: $msg"); false }
    val fact = live.w.gold("order_fact", e)
    kind match {
      case "star" =>
        val cd = live.w.gold("customer_dim", e)
          .select(col("customer_skey"), col("state"), lit(true).as("hit"))
        val rows = fact.join(cd, Seq("customer_skey"), "left")
          .groupBy(col("hit"), col("state"), col("year"))
          .agg(count(lit(1)).as("n"), cents(col("total_amount")).as("c")).collect()
        val dangling = rows.filter(_.isNullAt(0)).map(_.getLong(3)).sum
        val got = rows.filterNot(_.isNullAt(0)).map(r =>
          (r.getString(1), r.getInt(2)) -> (r.getLong(3), r.getLong(4))).toMap
        val n = rows.map(_.getLong(3)).sum
        if (dangling != 0) fail(s"$dangling facts with a dangling customer_skey")
        else if (n != want.facts) fail(s"$n facts, expected ${want.facts}")
        else got == want.star || fail("revenue by state and year differs")
      case "asof" =>
        val pd = live.w.gold("product_dim", e)
        val keyed = pd.select(col("product_skey"), col("product_id"))
        val ver = pd.select(col("product_id"), col("brand"),
          col("effective_start_date").as("vs"), col("effective_end_date").as("ve"))
        val rows = fact.join(keyed, "product_skey").join(ver, Seq("product_id"))
          .filter(col("order_date") >= col("vs") &&
            (col("ve").isNull || col("order_date") < col("ve")))
          .groupBy("brand").agg(count(lit(1)).as("n"),
            cents(col("total_amount")).as("c")).collect()
        val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        got == want.asOf || fail("revenue by as-of brand differs")
      case "history" =>
        val path = live.w.cat.path("gold", "customer_dim")
        val v = graft.pipeline.PipelineEpoch.tableVersions(ctx.spark, live.w.cat,
          live.w.pipeline, e)("gold.customer_dim")
        val now = graft.catalog.Catalog.versionRead(ctx.spark, path, v)
        val before = graft.catalog.Catalog.versionRead(ctx.spark, path, math.max(1, v - 1))
        val diff = now.exceptAll(before).count() + before.exceptAll(now).count()
        diff == want.customerDiff ||
          fail(s"version diff $diff rows, expected ${want.customerDiff}")
      case "point" =>
        val id = points(cycles % points.size)
        val cd = live.w.gold("customer_dim", e).filter(col("customer_id") === id)
          .select("customer_skey")
        val r = fact.join(cd, "customer_skey")
          .agg(count(lit(1)), coalesce(cents(col("total_amount")), lit(0L))).head()
        (r.getLong(0), r.getLong(1)) == want.points(id) || fail(s"customer $id history differs")
    }
  }
}

/** Per-layer figures that need the batch itself: the share of buckets its
  * keys touch and gold bytes written per landed byte. */
final class LayerAccumulator {
  private val acc = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def add(k: String, v: Double): Unit =
    acc.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def batch(ctx: RunContext, live: MedallionWorkload.Live, b: Batch,
      landedBytes: Map[String, Long]): Unit = {
    val spans = ctx.tracer.all.filter(_.op == b.index)
    Seq("gold.scd1" -> ("customer_dim", "customers"),
      "gold.scd2" -> ("product_dim", "products"),
      "gold.fact" -> ("order_fact", "orders")).foreach { case (span, (table, entity)) =>
      add(s"$span.buckets_touched_ratio", live.w.bucketsTouched(table, b.index))
      val written = spans.filter(_.name == span).map(_.bytesWritten.get).sum
      add(s"$span.write_amp", written.toDouble / landedBytes.getOrElse(s"$entity.parquet", 1L))
    }
  }
  def result(): Map[String, Double] = acc.map { case (k, v) => k -> Stats.mean(v.toSeq) }.toMap
}
