package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped `lineitem` rows: the only input the engine gets.
  * The engine's own DocSynth turns them into the interleaved doc table,
  * exactly as it does with a real `lineitem.parquet`. */
final case class LineItems(orderkey: Array[Long], partkey: Array[Long], suppkey: Array[Long],
                           linenumber: Array[Int], quantity: Array[Double],
                           returnflag: Array[String], linestatus: Array[String]) {
  def size: Int = orderkey.length
}

/** A point cloud held in the benchmark's own memory, for the brute-force
  * checks. `doc` is the numeric doc id. */
final case class Cloud(doc: Array[Long], span: Array[Int], x: Array[Double], y: Array[Double],
                       z: Array[Double], intensity: Array[Int]) {
  def size: Int = x.length
  def subset(keep: Int => Boolean): Cloud = {
    val ix = x.indices.filter(keep).toArray
    Cloud(ix.map(doc), ix.map(span), ix.map(x), ix.map(y), ix.map(z), ix.map(intensity))
  }
}

object Inputs {
  /** The base line items are the same for every run, as a fixed table
    * would be; the run's seed picks the polygons, subsets and limits the
    * ops apply to them. */
  val DataSeed = 1L

  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false)))

  /** `orders` orders of 1 to 7 lines each, as in TPC-H; keys, quantities
    * and flags drawn from `seed`. */
  def lineItems(seed: Long, orders: Int): LineItems = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)
    val ok = Array.newBuilder[Long]; val pk = Array.newBuilder[Long]
    val sk = Array.newBuilder[Long]; val ln = Array.newBuilder[Int]
    val q = Array.newBuilder[Double]; val rf = Array.newBuilder[String]
    val ls = Array.newBuilder[String]
    for (o <- 0 until orders) {
      val key = 1L + o * 8L + rnd.nextInt(8)
      for (l <- 1 to 1 + rnd.nextInt(7)) {
        ok += key; ln += l
        pk += 1L + rnd.nextInt(200000); sk += 1L + rnd.nextInt(10000)
        q += (1 + rnd.nextInt(50)).toDouble
        rf += "ANR".charAt(rnd.nextInt(3)).toString
        ls += "FO".charAt(rnd.nextInt(2)).toString
      }
    }
    LineItems(ok.result(), pk.result(), sk.result(), ln.result(), q.result(), rf.result(), ls.result())
  }

  /** Writes `li` as `<dir>/lineitem.parquet`, the layout DocSynth reads. */
  def write(spark: SparkSession, li: LineItems, dir: String): Unit = {
    val rows = new java.util.ArrayList[Row](li.size)
    for (i <- 0 until li.size)
      rows.add(Row(li.orderkey(i), li.partkey(i), li.suppkey(i), li.linenumber(i),
        li.quantity(i), li.returnflag(i), li.linestatus(i)))
    spark.createDataFrame(rows, schema).repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(s"$dir/lineitem.parquet")
  }

  /** x/y of every point of `DocSynth.docTableReplicated(li, replicas)`,
    * computed here from the line items alone (replica r shifts the keys
    * the way DocSynth documents it). Only x, y and doc are needed by the
    * crop check, so span and z are left empty. */
  def replicatedXY(li: LineItems, replicas: Int): Cloud = {
    val n = li.size * replicas
    val doc = new Array[Long](n); val x = new Array[Double](n); val y = new Array[Double](n)
    var j = 0
    for (i <- 0 until li.size; r <- 0 until replicas) {
      val ok = li.orderkey(i) * replicas + r
      val pk = li.partkey(i) + r * 131L
      val sk = li.suppkey(i) + r * 17L
      doc(j) = ok
      x(j) = ((pk * 37 + ok * 11) % 2000) * 0.5
      y(j) = ((pk * 13 + sk * 7 + ok) % 2000) * 0.5
      j += 1
    }
    Cloud(doc, Array.emptyIntArray, x, y, Array.emptyDoubleArray, Array.emptyIntArray)
  }

  /** Collects an exploded point frame into the benchmark's memory. */
  def collect(points: DataFrame): Cloud = {
    val rows = points.select("doc_id", "span_idx", "x", "y", "z", "intensity").collect()
    Cloud(rows.map(_.getString(0).toLong), rows.map(_.getInt(1)), rows.map(_.getDouble(2)),
      rows.map(_.getDouble(3)), rows.map(_.getDouble(4)), rows.map(_.getInt(5)))
  }

  /** Hex digest of a canonical text rendering of an op's output. */
  def digest(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
