package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.ingest.Ingest
import graft.merge.PartitionedMerge
import graft.pipeline.{Medallion, PipelineEpoch}

/** One medallion warehouse driven through the engine's public entry points
  * in the order `Medallion.run` uses them: `Ingest.runOnce` per entity,
  * `Medallion.silver*` → `Catalog.overwriteSnapshot`, the gold loads, and
  * `PipelineEpoch.commit`. Every call sits in a [[Tracer]] span.
  *
  * Landing is an atomic rename of a pre-staged file into the entity's
  * landing directory. Silver holds the rows of the batch being processed:
  * bronze rows whose source file is this batch's file. Gold is stored in
  * `buckets` buckets (`Medallion`'s `dimBuckets`). */
final class Warehouse(spark: SparkSession, val root: Path, buckets: Int,
    tracer: Tracer) {
  val cat = new Catalog(spark, root.resolve("warehouse").toString)
  private val med = new Medallion(spark, cat, Some(buckets))
  val pipeline = "medallion"
  val entities = Seq("customers", "products", "orders", "regions")
  val epochTables = Seq("silver.customers", "silver.products", "silver.orders",
    "gold.customer_dim", "gold.product_dim", "gold.order_fact")
  private val SourceCol = "source_file"

  private def staged(b: Int, e: String) = root.resolve(f"staged/b$b%05d/$e.parquet")
  private def fileName(b: Int) = f"b$b%05d.parquet"
  private def spec(e: String) = Ingest.IngestSpec(e,
    srcDir = root.resolve(s"landing/$e").toString,
    dstDir = cat.path("bronze", e),
    checkpointDir = root.resolve(s"checkpoints/$e").toString,
    schemaFile = root.resolve(s"schemas/$e.ddl").toString,
    sourceFileCol = Some(SourceCol))

  /** Write batch `b`'s files to the staging area (outside the landing
    * directories the engine watches). */
  def stage(b: Batch): Unit = {
    ParquetOut.customers(staged(b.index, "customers"), b.customers)
    ParquetOut.products(staged(b.index, "products"), b.products)
    ParquetOut.orders(staged(b.index, "orders"), b.orders)
    if (b.regions.nonEmpty) ParquetOut.regions(staged(b.index, "regions"), b.regions)
  }

  /** Stage batch `b` by copying the files another warehouse staged. */
  def stageFrom(other: Path, b: Int): Unit = entities.foreach { e =>
    val src = other.resolve(root.relativize(staged(b, e)))
    if (Files.exists(src)) {
      Files.createDirectories(staged(b, e).getParent)
      Files.copy(src, staged(b, e))
    }
  }

  def stagedFiles(b: Int): Seq[Path] =
    entities.map(staged(b, _)).filter(Files.exists(_))

  /** Land batch `b`: one atomic rename per entity file. */
  def land(b: Int): Seq[String] = entities.filter(e => Files.exists(staged(b, e))).map { e =>
    val dst = root.resolve(s"landing/$e").resolve(fileName(b))
    Files.createDirectories(dst.getParent)
    Files.move(staged(b, e), dst, StandardCopyOption.ATOMIC_MOVE)
    e
  }

  private def batchRows(e: String, b: Int): DataFrame =
    Ingest.readBronze(spark, cat.path("bronze", e))
      .filter(col(SourceCol).endsWith("/" + fileName(b))).drop(SourceCol)

  /** ingest → silver → gold → epoch for the entities landed in batch `b`.
    * Returns the published epoch. */
  def process(b: Int, landed: Seq[String], now: Column): Int = {
    landed.foreach(e => tracer.span("ingest")(Ingest.runOnce(spark, spec(e))))
    tracer.span("silver") {
      landed.foreach {
        case "customers" => cat.overwriteSnapshot(
          med.silverCustomers(batchRows("customers", b)), "silver", "customers")
        case "products" => cat.overwriteSnapshot(
          med.silverProducts(batchRows("products", b)), "silver", "products")
        case "orders" => cat.overwriteSnapshot(
          med.silverOrders(batchRows("orders", b)), "silver", "orders")
        case "regions" => cat.overwriteSnapshot(
          med.silverRegions(batchRows("regions", b)), "silver", "regions")
      }
    }
    tracer.span("gold.scd1")(med.goldCustomerDim(cat.read("silver", "customers"), now))
    tracer.span("gold.scd2")(med.goldProductDim(cat.read("silver", "products"), now))
    tracer.span("gold.fact")(med.goldOrderFact(cat.read("silver", "orders"), now))
    tracer.span("epoch")(PipelineEpoch.commit(spark, cat, pipeline, epochTables))
  }

  def gold(table: String, epoch: Int): DataFrame =
    PipelineEpoch.readAt(spark, cat, pipeline, s"gold.$table", epoch)

  def currentEpoch: Int = PipelineEpoch.currentEpoch(spark, cat, pipeline)

  /** Bytes of every file under the warehouse (bronze, silver, gold, their
    * version logs and epochs), and of the live bronze, silver and gold
    * snapshots alone. */
  def storage(): (Long, Long) = {
    import Warehouse.bytesUnder
    val all = bytesUnder(root.resolve("warehouse"))
    val live = (epochTables ++ entities.map("bronze." + _)).map { t =>
      val Array(l, n) = t.split('.')
      bytesUnder(java.nio.file.Paths.get(cat.path(l, n)))
    }.sum
    (all, live)
  }

  /** Share of the buckets batch `b`'s source keys fall in, by the bucket
    * function the bucketed merge uses. */
  def bucketsTouched(table: String, b: Int): Double = {
    val (e, key) = table match {
      case "customer_dim" => ("customers", "customer_id")
      case "product_dim" => ("products", "product_id")
      case _ => ("orders", "order_id")
    }
    val src = batchRows(e, b).filter(col(key).isNotNull)
    src.select(PartitionedMerge.bucketExpr(Seq(key), buckets)).distinct().count()
      .toDouble / buckets
  }
}

object Warehouse {
  def bytesUnder(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** The correctness gate over the final gold state. */
object Gate {
  private def millis(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime
    case x => x
  }
  private def rows(df: DataFrame, cols: Seq[String]): Array[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(r => cols.indices.map(i => millis(r.get(i))))

  /** Mismatches between the engine's gold tables at `epoch` and the model;
    * empty when they agree: row counts, one current row per product, unique
    * surrogate keys, and a content hash over the business columns. Each
    * table is collected once and checked in plain Scala. */
  def check(w: Warehouse, m: Model, epoch: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    def table(name: String, cols: Seq[String], want: Long, hash: Long): Array[Seq[Any]] = {
      val rs = rows(w.gold(name, epoch), cols)
      if (rs.length != want) errs += s"$name rows ${rs.length}, expected $want"
      if (rs.iterator.map(Model.rowHash).sum != hash) errs += s"$name content hash differs"
      rs
    }
    def uniqueKeys(name: String, rs: Array[Seq[Any]], col: Int): Unit = {
      val dup = rs.length - rs.map(_(col)).distinct.length
      if (dup != 0) errs += s"$name has $dup duplicated surrogate keys"
    }
    val cd = table("customer_dim", Seq("customer_id", "first_name", "last_name",
      "email", "city", "state", "domains", "fullname", "customer_skey",
      "created_date", "updated_date", "change_type"), m.customers.size, m.customerHash)
    uniqueKeys("customer_dim", cd, 8)
    val pd = table("product_dim", Seq("product_id", "product_name", "category",
      "price", "brand", "supplier", "discounted_price", "product_skey",
      "effective_start_date", "effective_end_date", "is_current",
      "insert_date", "update_date"), m.versions.size, m.productHash)
    uniqueKeys("product_dim", pd, 7)
    val current = pd.groupBy(_(0)).values.map(_.count(_(10) == true))
    if (current.exists(_ != 1))
      errs += s"${current.count(_ != 1)} products without exactly one current row"
    table("order_fact", Seq("order_id", "order_date", "year", "customer_skey",
      "product_skey", "quantity", "total_amount", "created_dt", "updated_dt"),
      m.facts.size, m.factHash)
    errs.result()
  }
}
