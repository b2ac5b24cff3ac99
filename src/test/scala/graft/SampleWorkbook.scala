package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Xlsx

/** A seeded workbook shaped like the reference's sample upload
  * (FIXTURES.md): a Transactions sheet, a Customers sheet of packed
  * `{id_name_email_dob_address_created}` records in which `dupes` ids
  * appear twice with different addresses, and a Products sheet of 8
  * products in 4 categories. Written with [[Xlsx.write]], so the tests
  * that need a real upload run without the reference's own file.
  *
  * @param mergedRows rows of the m:m transactions ⋈ customers join: a
  *                   transaction of a duplicated customer matches both of
  *                   its records
  */
final case class SampleWorkbook(path: String, txRows: Int, custRows: Int,
                                prodRows: Int, distinctCustomers: Int,
                                dupes: Int, mergedRows: Long)

object SampleWorkbook {

  /** Writes one workbook to `path`. The same `seed` gives the same bytes;
    * customers are drawn from ids `C0001..C<pool>`, so workbooks of
    * different seeds share customers at different addresses.
    */
  def write(spark: SparkSession, path: String, seed: Long = 1L,
            tx: Int = 1000, customers: Int = 100, dupes: Int = 4,
            pool: Int = 100): SampleWorkbook = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def address() =
      s"${1 + rnd.nextInt(999)} ${rnd.alphanumeric.filter(_.isLetter).take(8).mkString} St"
    val ids = rnd.shuffle((1 to pool).toVector).take(customers).sorted
      .map(i => f"C$i%04d")
    val records = ids.map { id =>
      (id, s"Name $id", s"${id.toLowerCase}@example.com", "1990-01-01",
        address(), "43899.5")
    }
    // each duplicate follows its original at a later position, with a
    // different address
    val withDupes = rnd.shuffle(records).take(dupes).foldLeft(records) {
      (acc, r) =>
        val at = acc.indexOf(r) + 1 + rnd.nextInt(acc.size - acc.indexOf(r))
        val (a, b) = acc.splitAt(at)
        (a :+ r.copy(_5 = r._5 + " Unit 2")) ++ b
    }
    val products = (1 to 8).map(i =>
      (f"P$i%03d", s"Product $i", Seq("Supplements", "Fitness",
        "Equipment", "Accessories")((i - 1) / 2), 10 + 5 * i))
    val txs = (1 to tx).map { i =>
      (f"TXN$i%05d", ids(rnd.nextInt(ids.size)), 44927 + rnd.nextInt(301),
        products(rnd.nextInt(products.size))._1,
        (1200 + rnd.nextInt(112489)) / 100.0,
        Seq("Cash", "Debit Card", "Credit Card")(rnd.nextInt(3)))
    }
    Xlsx.write(path, Seq(
      "Transactions" -> txs.toDF("transaction_id", "customer_id",
        "transaction_date", "product_code", "amount", "payment_type"),
      "Customers" -> withDupes.map { case (id, n, e, d, a, c) =>
        Tuple1(s"{${id}_${n}_${e}_${d}_${a}_$c}") }
        .toDF("customer_id-name-email-dob-address-created-date"),
      "Products" -> products.toDF("product_code", "product_name",
        "category", "unit_price")))
    val recordsPerId = withDupes.groupBy(_._1).view.mapValues(_.size).toMap
    SampleWorkbook(path, tx, withDupes.size, products.size, ids.size, dupes,
      txs.map(t => recordsPerId(t._2).toLong).sum)
  }
}
