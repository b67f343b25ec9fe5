package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** A deterministic reference-layout CSV fixture with the reference
  * input's shape (FIXTURES.md §A): `customers.csv` (5 000 rows),
  * `products.csv` (2 000), `orders.csv` (20 000, over 4 896 distinct
  * customers) and `order_details.csv` (60 161 rows covering every order
  * and product). The details hold 38 duplicate (OrderID, ProductID) keys,
  * so 60 123 rows survive keep-last dedupe; there are no FK violations,
  * NULLs or empty fields, so nothing is rejected.
  *
  * The golden duplicate key (1010, 1332) appears first as Quantity 10 /
  * TotalPrice 3230.50, about 20 KB into the ~1.3 MB detail file, and
  * last as Quantity 1 / TotalPrice 323.05 on its final line: with
  * `spark.sql.files.maxPartitionBytes=65536` the two rows land in
  * different splits, and keep-last must pick 323.05. */
object RefCsvFixture {

  val GoldenOrder = 1010
  val GoldenProduct = 1332

  /** The fixture, written once per JVM into a temp dir. */
  lazy val dir: String = write(Files.createTempDirectory("graft-refcsv"))

  private val Categories =
    Seq("Books", "Clothing", "Electronics", "Food", "Home", "Sports", "Toys")
  private val Statuses = Seq("Cancelled", "Delivered", "Pending", "Shipped")

  private def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  def write(out: Path): String = {
    def csv(name: String, header: String, rows: Iterator[String]): Unit =
      Files.write(out.resolve(name),
        (Iterator(header) ++ rows).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    csv("customers.csv", "CustomerID,FirstName,LastName,Email,Phone,City,Country",
      (1 to 5000).iterator.map { i =>
        val phone =
          if (i % 5 == 0) f"+1-555-${i % 10000}%04d x${i % 97}" else f"555.${i % 10000}%04d"
        s"$i,First$i,Last$i,user$i@example.com,$phone,City${i % 50},Country${i % 20}"
      })
    csv("products.csv", "ProductID,ProductName,Category,Price,Stock",
      (1 to 2000).iterator.map { i =>
        s"$i,Product$i,${Categories(i % 7)},${money(519L + (i * 4931L) % 99475L)},${i % 500}"
      })
    // 4 896 distinct customers: 7 is coprime to 4 896, so i·7 mod 4 896
    // walks every residue — 104 customers keep no orders
    csv("orders.csv", "OrderID,CustomerID,OrderDate,Status",
      (1 to 20000).iterator.map { i =>
        val date = java.time.LocalDate.of(2023, 9, 13).plusDays(i % 731L)
        s"$i,${(i * 7) % 4896 + 1},$date,${Statuses(i % 4)}"
      })
    // 60 123 unique keys: three products per order plus a fourth for the
    // first 123 orders (13 is coprime to 2 000, so every product is
    // covered); the golden key replaces order 1010's first product
    val unique = (0 until 60123).map { j =>
      val order = j % 20000 + 1
      val product =
        if (order == GoldenOrder && j < 20000) GoldenProduct
        else (order * 13 + (j / 20000) * 701) % 2000 + 1
      (order, product)
    }
    def row(key: (Int, Int), qty: Int, cents: Long) = s"${key._1},${key._2},$qty,${money(cents)}"
    val rows = unique.zipWithIndex.map { case (key, j) =>
      if (key == ((GoldenOrder, GoldenProduct))) row(key, 10, 323050L)
      else row(key, j % 10 + 1, (j * 3719L) % 100000L + 100L)
    }
    // 37 more duplicates spread over the file, then the golden one last
    val dups = (1 to 37).map { d =>
      row(unique(d * 1600 + 7), 1 + d % 10, 5000L + d)
    } :+ row((GoldenOrder, GoldenProduct), 1, 32305L)
    csv("order_details.csv", "OrderID,ProductID,Quantity,TotalPrice", (rows ++ dups).iterator)
    out.toString
  }
}
