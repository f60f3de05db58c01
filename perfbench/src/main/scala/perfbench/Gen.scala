package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** Source rows of the medallion workloads, in the reference's shapes. */
final case class Customer(id: Long, first: String, last: String,
    email: String, city: String, state: String)
final case class Product(id: Long, name: String, category: String,
    price: Double, brand: String, supplier: String)
final case class Order(id: Option[Long], date: String, customerId: Long,
    productId: Long, quantity: Long, amount: Double)

/** One landed batch: the rows of each entity's file. */
final case class Batch(index: Int, customers: Seq[Customer],
    products: Seq[Product], orders: Seq[Order],
    regions: Seq[(Long, String)]) {
  def rows: Long = customers.size + products.size + orders.size + regions.size
}

/** Sizes of the generated warehouse. `changeShare` of the customers and
  * products change per batch; `orderShare` of the initial order count
  * arrives as new orders per batch. */
final case class Scale(customers: Int, products: Int, orders: Int,
    changeShare: Double = 0.01, orderShare: Double = 0.02)

/** Seeded source generator: an initial load, then incremental batches of
  * changed and new keys. The same seed yields the same batches, row for row
  * and byte for byte once written ([[ParquetOut]]).
  *
  * The generator never calls the engine; [[Model]] folds the batches into
  * the gold state the engine must produce. */
final class MedallionGen(seed: Long, scale: Scale) {
  private val rnd = new java.util.SplittableRandom(seed)
  private def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
  private def chance(p: Double): Boolean = rnd.nextDouble() < p

  private val firsts = Vector("ann", "bob", "cat", "dan", "eve", "fay", "gus",
    "hal", "ida", "jon", "kim", "lea", "max", "nia", "oto", "pia", "quin",
    "ray", "sue", "tom", "uma", "vic", "wes", "xia", "yan", "zoe")
  private val lasts = Vector("ash", "bix", "cox", "dunn", "egan", "fox",
    "gray", "hill", "ives", "jay", "kerr", "lord", "moss", "nash", "orr",
    "park", "quay", "reed", "shaw", "tate", "vale", "ward", "york", "zane")
  private val domains = Vector("gmail.com", "yahoo.com", "outlook.com",
    "proton.me", "example.org", "mail.net")
  private val cities = Vector("oslo", "rome", "kyiv", "lima", "pune",
    "cork", "nice", "bonn", "graz", "bern", "riga", "faro", "lyon", "gent")
  private val states = Vector("AL", "AZ", "CA", "CO", "FL", "GA", "IL", "MA",
    "MI", "NY", "OH", "OR", "TX", "UT", "WA")
  private val categories = Vector("tools", "toys", "books", "food", "garden",
    "sports", "audio", "video", "office", "kitchen")
  private val brands = (1 to 30).map(i => f"brand$i%02d").toVector
  private val suppliers = (1 to 40).map(i => f"sup$i%02d").toVector
  val regions: Seq[(Long, String)] =
    Seq(1L -> "europe", 2L -> "america", 3L -> "asia", 4L -> "africa",
      5L -> "oceania")

  private val customers = mutable.LinkedHashMap.empty[Long, Customer]
  private val products = mutable.LinkedHashMap.empty[Long, Product]
  private val orders = mutable.LinkedHashMap.empty[Long, Order]
  private var nextOrder = 1L
  private var batches = 0

  private def email(first: String, last: String, id: Long) =
    s"$first.$last$id@${pick(domains)}"
  private def newCustomer(id: Long): Customer = {
    val (f, l) = (pick(firsts), pick(lasts))
    Customer(id, f, l, if (chance(0.003)) null else email(f, l, id),
      if (chance(0.005)) null else pick(cities), pick(states))
  }
  private def cents(lo: Int, hi: Int): Double =
    (lo + rnd.nextInt(hi - lo)) / 100.0
  private def newProduct(id: Long): Product =
    Product(id, s"product-$id", pick(categories), cents(100, 50000),
      pick(brands), if (chance(0.005)) null else pick(suppliers))

  /** A tracked-attribute change that always differs from `c`. */
  private def changeCustomer(c: Customer): Customer = rnd.nextInt(5) match {
    case 0 => c.copy(city = if (c.city == null) pick(cities)
      else if (chance(0.1)) null else pick(cities.filterNot(_ == c.city)))
    case 1 => c.copy(state = pick(states.filterNot(_ == c.state)))
    case 2 => c.copy(email = if (c.email == null) email(c.first, c.last, c.id)
      else if (chance(0.1)) null
      else s"${c.first}.${c.last}${c.id}@${pick(domains.filterNot(c.email.endsWith))}")
    case 3 => c.copy(last = pick(lasts.filterNot(_ == c.last)))
    case _ => c.copy(first = pick(firsts.filterNot(_ == c.first)))
  }
  private def changeProduct(p: Product): Product = rnd.nextInt(3) match {
    case 0 => p.copy(brand = pick(brands.filterNot(_ == p.brand)))
    case 1 =>
      val np = cents(100, 50000)
      p.copy(price = if (np == p.price) np + 0.01 else np)
    case _ => p.copy(supplier = if (p.supplier == null) pick(suppliers)
      else if (chance(0.1)) null else pick(suppliers.filterNot(_ == p.supplier)))
  }

  private def distinctSample(ids: IndexedSeq[Long], n: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < math.min(n, ids.size)) out += ids(rnd.nextInt(ids.size))
    out.toSeq
  }
  private def shuffled[A](xs: Seq[A]): Seq[A] = {
    val a = xs.toBuffer
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.toSeq
  }

  private def newOrder(date: String): Order = {
    val p = products(1L + rnd.nextInt(products.size))
    val q = 1L + rnd.nextInt(9)
    val o = Order(Some(nextOrder), date, 1L + rnd.nextInt(customers.size),
      p.id, q, math.round(p.price * q * 100) / 100.0)
    nextOrder += 1
    o
  }

  /** Initial load: the whole population, orders dated 2021–2023. */
  def initial(): Batch = {
    require(batches == 0, "initial() must come first")
    (1L to scale.customers.toLong).foreach(id => customers(id) = newCustomer(id))
    (1L to scale.products.toLong).foreach(id => products(id) = newProduct(id))
    val start = java.time.LocalDate.of(2021, 1, 1)
    (1 to scale.orders).foreach { _ =>
      val o = newOrder(start.plusDays(rnd.nextInt(3 * 365)).toString)
      orders(o.id.get) = o
    }
    batches = 1
    Batch(0, customers.values.toSeq, products.values.toSeq,
      orders.values.toSeq, regions)
  }

  /** Next batch: ≈changeShare changed keys, a few unchanged re-sends, new
    * keys, new orders dated the batch day, a few order corrections, and
    * rows the DQ gate must drop (null order_id, negative amount). */
  def next(): Batch = {
    require(batches > 0, "initial() must come first")
    val b = batches
    batches += 1
    val day = Model.batchDay(b)
    def touched[A](all: mutable.LinkedHashMap[Long, A], share: Double,
        change: A => A, fresh: Long => A): Seq[A] = {
      val ids = all.keys.toIndexedSeq
      val n = math.max(1, math.round(ids.size * share).toInt)
      val picked = distinctSample(ids, n + n / 5)
      val changed = picked.take(n).map { id => all(id) = change(all(id)); all(id) }
      val resent = picked.drop(n).map(all)
      val added = (1 to math.max(1, n / 4)).map { _ =>
        val id = all.size + 1L; all(id) = fresh(id); all(id)
      }
      changed ++ resent ++ added
    }
    val cs = touched(customers, scale.changeShare, changeCustomer, newCustomer)
    val ps = touched(products, scale.changeShare, changeProduct, newProduct)
    val fresh = (1 to math.max(1, (scale.orders * scale.orderShare).toInt))
      .map(_ => newOrder(day))
    fresh.foreach(o => orders(o.id.get) = o)
    val corrections = distinctSample(orders.keys.toIndexedSeq,
      math.max(1, fresh.size / 20)).filterNot(id => fresh.exists(_.id.contains(id)))
      .map { id =>
        val o = orders(id)
        val q = 1L + rnd.nextInt(9)
        val c = o.copy(quantity = q,
          amount = math.round(products(o.productId).price * q * 100) / 100.0)
        orders(id) = c
        c
      }
    // rows the DQ gate drops; their ids are never reused
    val rejected = Seq(
      Order(None, day, 1L, 1L, 1L, 1.0),
      Order(None, day, 2L, 2L, 2L, 2.0),
      { val o = newOrder(day); o.copy(amount = -o.amount) },
      { val o = newOrder(day); o.copy(amount = -0.5) })
    Batch(b, shuffled(cs), shuffled(ps), shuffled(fresh ++ corrections ++ rejected), Nil)
  }
}

/** Writes source rows as parquet with the parquet library directly, so the
  * staged bytes depend on the rows alone (no engine, no random file names). */
object ParquetOut {
  private val customerType = MessageTypeParser.parseMessageType(
    """message customers { optional int64 customer_id;
      optional binary first_name (STRING); optional binary last_name (STRING);
      optional binary email (STRING); optional binary city (STRING);
      optional binary state (STRING); }""")
  private val productType = MessageTypeParser.parseMessageType(
    """message products { optional int64 product_id;
      optional binary product_name (STRING); optional binary category (STRING);
      optional double price; optional binary brand (STRING);
      optional binary supplier (STRING); }""")
  private val orderType = MessageTypeParser.parseMessageType(
    """message orders { optional int64 order_id;
      optional binary order_date (STRING); optional int64 customer_id;
      optional int64 product_id; optional int64 quantity;
      optional double total_amount; }""")
  private val regionType = MessageTypeParser.parseMessageType(
    """message regions { optional int64 region_id;
      optional binary region_name (STRING); }""")

  private def write(path: Path, t: org.apache.parquet.schema.MessageType,
      n: Int)(fill: (SimpleGroup, Int) => Unit): Unit = {
    Files.createDirectories(path.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(t).withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try (0 until n).foreach { i =>
      val g = new SimpleGroup(t); fill(g, i); w.write(g)
    } finally w.close()
  }
  private def str(g: SimpleGroup, f: String, v: String): Unit =
    if (v != null) g.add(f, v)

  def customers(path: Path, rows: Seq[Customer]): Unit =
    write(path, customerType, rows.size) { (g, i) =>
      val c = rows(i)
      g.add("customer_id", c.id); str(g, "first_name", c.first)
      str(g, "last_name", c.last); str(g, "email", c.email)
      str(g, "city", c.city); str(g, "state", c.state)
    }
  def products(path: Path, rows: Seq[Product]): Unit =
    write(path, productType, rows.size) { (g, i) =>
      val p = rows(i)
      g.add("product_id", p.id); str(g, "product_name", p.name)
      str(g, "category", p.category); g.add("price", p.price)
      str(g, "brand", p.brand); str(g, "supplier", p.supplier)
    }
  def orders(path: Path, rows: Seq[Order]): Unit =
    write(path, orderType, rows.size) { (g, i) =>
      val o = rows(i)
      o.id.foreach(g.add("order_id", _)); str(g, "order_date", o.date)
      g.add("customer_id", o.customerId); g.add("product_id", o.productId)
      g.add("quantity", o.quantity); g.add("total_amount", o.amount)
    }
  def regions(path: Path, rows: Seq[(Long, String)]): Unit =
    write(path, regionType, rows.size) { (g, i) =>
      g.add("region_id", rows(i)._1); str(g, "region_name", rows(i)._2)
    }
}
