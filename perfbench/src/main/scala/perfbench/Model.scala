package perfbench

import scala.collection.mutable

/** The gold state the engine must produce, computed in plain Scala from the
  * generated batches: the SCD1 customer dimension, the SCD2 product
  * dimension and the order fact, with the engine's documented semantics
  * (change detection on tracked attributes with nulls equal to nulls;
  * surrogate keys `max + rank by business key`; DQ-failing orders dropped;
  * fact surrogate keys looked up after the batch's dimension merges).
  *
  * Audit timestamps are the batch's `now`, [[Model.batchMillis]]. */
final class Model {
  import Model._

  val customers = mutable.HashMap.empty[Long, CustRow]
  val versions = mutable.ArrayBuffer.empty[ProdVer]
  private val currentIdx = mutable.HashMap.empty[Long, Int]
  private val versionsOf = mutable.HashMap.empty[Long, List[Int]]
  val facts = mutable.HashMap.empty[Long, FactRow]
  private var custMax = 0L
  private var prodMax = 0L
  /** Index of the last batch applied; the engine publishes it as epoch
    * `applied + 1`. */
  var applied = 0
  /** Rows that differ between the customer dimension before and after the
    * last batch, counted in both directions (a changed key twice). */
  var customerDiff = 0L

  private def custTracked(c: Customer) = (c.first, c.last, c.email, c.city, c.state)
  private def prodTracked(p: Product) = (upper(p.brand), p.price, p.supplier)

  def apply(b: Batch): Unit = {
    val t = b.index
    // SCD1 customers
    val newCust = mutable.ArrayBuffer.empty[Customer]
    var changed = 0L
    b.customers.foreach { c =>
      customers.get(c.id) match {
        case Some(r) if custTracked(r.c) != custTracked(c) =>
          changed += 1
          customers(c.id) = r.copy(c = c, updated = t, changeType = "U")
        case Some(_) =>
        case None => newCust += c
      }
    }
    newCust.sortBy(_.id).foreach { c =>
      custMax += 1
      customers(c.id) = CustRow(c, custMax, t, t, "I")
    }
    customerDiff = 2 * changed + newCust.size
    // SCD2 products: changed keys expire and get a new version, new keys
    // get a first version; new versions are keyed in business-key order
    val fresh = mutable.ArrayBuffer.empty[Product]
    b.products.foreach { p =>
      currentIdx.get(p.id) match {
        case Some(i) if prodTracked(versions(i).p) != prodTracked(p) =>
          versions(i) = versions(i).copy(end = t, current = false, updated = t)
          fresh += p
        case Some(_) =>
        case None => fresh += p
      }
    }
    fresh.sortBy(_.id).foreach { p =>
      prodMax += 1
      currentIdx(p.id) = versions.size
      versionsOf(p.id) = versions.size :: versionsOf.getOrElse(p.id, Nil)
      versions += ProdVer(p, prodMax, t, -1, current = true, t, t)
    }
    // fact upsert of the DQ-passing orders
    b.orders.foreach { o =>
      o.id.filter(_ => o.amount >= 0).foreach { id =>
        val created = facts.get(id).map(_.created).getOrElse(t)
        facts(id) = FactRow(id, o.date, customers(o.customerId).skey,
          versions(currentIdx(o.productId)).skey, o.quantity, o.amount,
          created, t)
      }
    }
    applied = t
  }

  // ---- expected answers of the pinned reads -----------------------------

  /** Star: (state, year) → (orders, revenue in cents) over current dims. */
  def star(): Map[(String, Int), (Long, Long)] = {
    val bySkey = customers.values.map(r => r.skey -> r.c.state).toMap
    val acc = mutable.HashMap.empty[(String, Int), (Long, Long)]
    facts.values.foreach { f =>
      val k = (bySkey(f.custSkey), f.date.take(4).toInt)
      val (n, s) = acc.getOrElse(k, (0L, 0L))
      acc(k) = (n + 1, s + toCents(f.amount))
    }
    acc.toMap
  }

  /** As-of: brand of the product version valid at each order's date →
    * (orders, revenue in cents). */
  def asOf(): Map[String, (Long, Long)] = {
    val idOfSkey = versions.map(v => v.skey -> v.p.id).toMap
    val acc = mutable.HashMap.empty[String, (Long, Long)]
    facts.values.foreach { f =>
      val at = dayMillis(f.date)
      val v = versionsOf(idOfSkey(f.prodSkey)).map(versions)
        .find(v => batchMillis(v.start) <= at &&
          (v.end < 0 || at < batchMillis(v.end)))
      val brand = v.map(x => upper(x.p.brand)).getOrElse(null)
      val (n, s) = acc.getOrElse(brand, (0L, 0L))
      acc(brand) = (n + 1, s + toCents(f.amount))
    }
    acc.toMap
  }

  /** Point: one customer's orders → (orders, revenue in cents). */
  def point(customerId: Long): (Long, Long) = {
    val sk = customers(customerId).skey
    facts.values.filter(_.custSkey == sk)
      .foldLeft((0L, 0L)) { case ((n, s), f) => (n + 1, s + toCents(f.amount)) }
  }

  // ---- order-independent content hashes of the gold tables ---------------

  def customerHash: Long = customers.values.iterator.map { r =>
    val c = r.c
    rowHash(Seq[Any](c.id, c.first, c.last, c.email, c.city, c.state,
      domainOf(c.email), fullname(c.first, c.last), r.skey,
      batchMillis(r.created), batchMillis(r.updated), r.changeType))
  }.sum

  def productHash: Long = versions.iterator.map { v =>
    val p = v.p
    rowHash(Seq[Any](p.id, p.name, p.category, p.price, upper(p.brand),
      p.supplier, p.price * 0.90, v.skey, batchMillis(v.start),
      if (v.end < 0) null else batchMillis(v.end), v.current,
      batchMillis(v.inserted), batchMillis(v.updated)))
  }.sum

  def factHash: Long = facts.values.iterator.map { f =>
    rowHash(Seq[Any](f.id, dayMillis(f.date), f.date.take(4).toInt, f.custSkey,
      f.prodSkey, f.quantity, f.amount, batchMillis(f.created),
      batchMillis(f.updated)))
  }.sum
}

object Model {
  final case class CustRow(c: Customer, skey: Long, created: Int,
      updated: Int, changeType: String)
  final case class ProdVer(p: Product, skey: Long, start: Int, end: Int,
      current: Boolean, inserted: Int, updated: Int)
  final case class FactRow(id: Long, date: String, custSkey: Long,
      prodSkey: Long, quantity: Long, amount: Double, created: Int,
      updated: Int)

  private val day0 = java.time.LocalDate.of(2024, 1, 1)

  /** Batch 0 (the initial load) is stamped before every generated order
    * date, so each order has a product version valid at its date. */
  def batchMillis(b: Int): Long =
    if (b == 0) java.time.LocalDate.of(2020, 1, 1).atStartOfDay(
      java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    else dayMillis(batchDay(b))

  def batchDay(b: Int): String = day0.plusDays(b - 1L).toString

  def dayMillis(d: String): Long = java.time.LocalDate.parse(d)
    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli

  def toCents(x: Double): Long = math.round(x * 100)

  def upper(s: String): String = if (s == null) null else s.toUpperCase

  def domainOf(email: String): String =
    if (email == null) null else email.split("@", -1)(1)

  /** Silver's `concat_ws(" ", first, last)`: nulls are skipped. */
  def fullname(first: String, last: String): String =
    Seq(first, last).filter(_ != null).mkString(" ")

  /** Hash of one row's values; summed over a table it is independent of
    * row order. Timestamps enter as epoch millis, nulls as a marker. */
  def rowHash(values: Seq[Any]): Long = {
    val s = values.map {
      case null => "∅"
      case d: Double => java.lang.Double.toString(d)
      case x => x.toString
    }.mkString("\u0001")
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h).getLong
  }
}
