package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

import perfbench.Ooxml.{Cell, Num, Text}

final case class Tx(id: String, customer: String, date: Int, product: String,
                    cents: Long, payment: String)

final case class Customer(id: String, name: String, email: String, dob: String,
                          address: String, created: String) {
  /** The reference's packed customer cell: `{id_name_email_dob_address_created}`. */
  def packed: String = s"{${id}_${name}_${email}_${dob}_${address}_$created}"
}

final case class Product(code: String, name: String, category: String, price: Int)

/** One generated upload: the three sheets of the reference workbook. */
final case class Workbook(name: String, txs: Vector[Tx],
                          customers: Vector[Customer], products: Vector[Product]) {
  def sheets: Seq[(String, Seq[Seq[Cell]])] = Seq(
    "Transactions" -> (
      Seq("transaction_id", "customer_id", "transaction_date", "product_code",
        "amount", "payment_type").map(Text) +:
      txs.map(t => Seq(Text(t.id), Text(t.customer), Num(t.date.toString),
        Text(t.product), Num(Workbooks.money(t.cents)), Text(t.payment)))),
    "Customers" -> (
      Seq(Text("customer_id-name-email-dob-address-created-date")) +:
      customers.map(c => Seq(Text(c.packed)))),
    "Products" -> (
      Seq("product_code", "product_name", "category", "unit_price").map(Text) +:
      products.map(p => Seq(Text(p.code), Text(p.name), Text(p.category),
        Num(p.price.toString)))))

  def bytes: Array[Byte] = Ooxml.bytes(sheets)

  /** Input bytes the state layer is fed: the packed customer records. */
  def customerBytes: Long = customers.map(_.packed.getBytes("UTF-8").length.toLong).sum
}

/** Size of each workbook in a series. `dupes` customer ids appear twice in
  * the Customers sheet with different addresses, as in the reference
  * sample; `pool` is the customer universe the series draws from, so
  * customers recur across uploads and their addresses change.
  */
final case class Shape(tx: Int, customers: Int, dupes: Int, pool: Int)

object Workbooks {
  val Products: Vector[Product] = Vector(
    Product("P001", "Protein Powder", "Supplements", 55),
    Product("P002", "Fish Oil", "Supplements", 20),
    Product("P003", "Yoga Mat", "Fitness", 35),
    Product("P004", "Resistance Band", "Fitness", 15),
    Product("P005", "Treadmill", "Equipment", 900),
    Product("P006", "Dumbbell Set", "Equipment", 120),
    Product("P007", "Water Bottle", "Accessories", 12),
    Product("P008", "Gym Bag", "Accessories", 40))

  private val First = Vector("Allison", "Matthew", "Lori", "Adam", "Lisa",
    "Nicole", "Brenda", "David", "Karen", "Jose", "Emily", "Samuel", "Grace",
    "Victor", "Hannah", "Omar")
  private val Last = Vector("Hill", "Fernandez", "Guerrero", "Grimes",
    "Collier", "Bowers", "Thornton", "Ramirez", "Nguyen", "Okafor", "Silva",
    "Kowalski", "Murphy", "Tanaka")
  private val Street = Vector("Jennifer Squares", "Oak Street", "Harbour Road",
    "King Avenue", "Mill Lane", "Station Parade", "Bay Terrace")
  private val City = Vector("Sydney NSW", "Melbourne VIC", "Brisbane QLD",
    "Perth WA", "Hobart TAS", "Darwin NT")
  private val Payment = Vector("Debit Card", "Cash", "Bank Transfer", "Credit Card")

  def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  /** `count` workbooks named `<prefix>_<k>.xlsx`, a pure function of
    * (seed, prefix, count, shape).
    */
  def series(seed: Long, prefix: String, count: Int, shape: Shape): Vector[Workbook] = {
    require(shape.customers <= shape.pool && shape.dupes <= shape.customers)
    require(shape.pool <= 99999, "customer ids are C + 5 digits at most")
    val rng = new SplittableRandom(seed * 1000003L + prefix.hashCode)
    val width = if (shape.pool <= 9999) 4 else 5
    val people = Vector.tabulate(shape.pool) { i =>
      val f = First(rng.nextInt(First.size))
      val l = Last(rng.nextInt(Last.size))
      (s"C%0${width}d".format(i + 1), s"$f $l",
        s"${f.toLowerCase}.${l.toLowerCase}$i@example.com",
        f"${1950 + rng.nextInt(50)}%04d-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d",
        f"${43000 + rng.nextInt(1000)}%d.${rng.nextInt(1000000)}%06d")
    }
    def address(r: SplittableRandom): String =
      s"${1 + r.nextInt(999)} ${Street(r.nextInt(Street.size))}, " +
        s"${City(r.nextInt(City.size))} ${10000 + r.nextInt(89999)}"
    Vector.tabulate(count) { k =>
      val chosen = shuffle(rng, (0 until shape.pool).toVector).take(shape.customers)
      val recs = chosen.map { i =>
        val (id, name, email, dob, created) = people(i)
        Customer(id, name, email, dob, address(rng), created)
      }
      val withDupes = (0 until shape.dupes).foldLeft(recs) { (acc, _) =>
        val src = recs(rng.nextInt(recs.size))
        val at = rng.nextInt(acc.size + 1)
        val (a, b) = acc.splitAt(at)
        (a :+ src.copy(address = address(rng))) ++ b
      }
      val txs = Vector.tabulate(shape.tx) { t =>
        Tx(f"TXN${t + 1}%05d", recs(rng.nextInt(recs.size)).id,
          44927 + rng.nextInt(301), Products(rng.nextInt(Products.size)).code,
          1200L + rng.nextLong(112489L), Payment(rng.nextInt(Payment.size)))
      }
      Workbook(f"${prefix}_$k%03d.xlsx", txs, withDupes, Products)
    }
  }

  private def shuffle[A](rng: SplittableRandom, v: Vector[A]): Vector[A] = {
    val a = v.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
}

/** What the reference's upload flow must produce for one workbook, computed
  * in plain Scala from the generated rows.
  *
  * @param summary (customer_id, name, amount, rank) in (rank, customer_id) order
  * @param top category → (every (customer_id, name) tied at the top, amount)
  */
final case class Expected(changes: Long,
                          summary: Vector[(String, String, BigDecimal, Int)],
                          top: Map[String, (Set[(String, String)], BigDecimal)])

/** The reference semantics the engine reproduces, over the uploads applied
  * so far: address CDC against the stored state and earlier rows of the
  * same file, last-writer-wins upsert, the many-to-many join of
  * transactions to every customer record with their id, sums rounded
  * HALF_EVEN to cents, and a dense rank on the rounded totals.
  */
final class ReferenceModel {
  private val stored = mutable.HashMap.empty[String, String]

  def apply(wb: Workbook): Expected = {
    val seen = mutable.HashMap.empty[String, String]
    var changes = 0L
    wb.customers.foreach { c =>
      seen.get(c.id).orElse(stored.get(c.id)).foreach { old =>
        if (old != c.address) changes += 1
      }
      seen(c.id) = c.address
    }
    stored ++= seen

    val byId = wb.customers.groupBy(_.id)
    val category = wb.products.map(p => p.code -> p.category).toMap
    val totals = mutable.HashMap.empty[(String, String, String), Long]
    for (t <- wb.txs; cat <- category.get(t.product).toSeq;
         c <- byId.getOrElse(t.customer, Vector.empty)) {
      val k = (c.id, c.name, cat)
      totals(k) = totals.getOrElse(k, 0L) + t.cents
    }
    def round(cents: Long) =
      (BigDecimal(cents) / 100).setScale(2, BigDecimal.RoundingMode.HALF_EVEN)

    val perCustomer = totals.groupMapReduce { case ((id, name, _), _) => (id, name) }(_._2)(_ + _)
      .map { case ((id, name), cents) => (id, name, round(cents)) }.toVector
    val ranks = perCustomer.map(_._3).distinct.sorted(Ordering[BigDecimal].reverse)
      .zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap
    val summary = perCustomer.map { case (id, name, v) => (id, name, v, ranks(v)) }
      .sortBy { case (id, _, _, r) => (r, id) }

    val top = totals.toVector.groupBy(_._1._3).map { case (cat, rows) =>
      val best = rows.map(_._2).max
      cat -> (rows.collect { case ((id, name, _), v) if v == best => (id, name) }.toSet,
        round(best))
    }
    Expected(changes, summary, top)
  }
}
