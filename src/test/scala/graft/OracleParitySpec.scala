package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.DriverManager

/** Self-contained correctness gate: every SparkEntry query with an
  * oracle runs against the engine AND against DuckDB (JDBC, offline
  * artifact) on the same parquet inputs, compared row-for-row with
  * column-name-normalized, row-sorted canonical rendering — the same
  * discipline as the external driver gate, but inside `sbt -batch test`
  * (the BASELINE.json verification contract). */
class OracleParitySpec extends AnyFunSuite {
  import TestSpark._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val conn = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = DriverManager.getConnection("jdbc:duckdb:")
    val st = c.createStatement()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      st.execute(s"CREATE VIEW $t AS SELECT * FROM '$sfDir/$t.parquet'")
    }
    st.close()
    c
  }

  /** Canonical cell rendering: integral numerics print without decimals,
    * doubles via Double.toString (round-trips), strings verbatim. */
  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double =>
      val dv = d.doubleValue()
      if (dv == math.rint(dv) && math.abs(dv) < 1e15) dv.toLong.toString else dv.toString
    case f: java.lang.Float => cell(f.toDouble: java.lang.Double)
    case b: java.math.BigDecimal => cell(b.doubleValue(): java.lang.Double)
    case b: Boolean => b.toString
    case other => other.toString
  }

  private def sparkRows(name: String): Seq[Seq[String]] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val cols = df.columns.sorted
    val reordered = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
    reordered.collect().toSeq.map(r => (0 until r.length).map(i => cell(r.get(i))))
      .sortBy(_.mkString(""))
  }

  private def duckRows(name: String): Seq[Seq[String]] = {
    val st = conn.createStatement()
    val rs = st.executeQuery(SparkEntry.oracleSql(name))
    val md = rs.getMetaData
    val n = md.getColumnCount
    val names = (1 to n).map(md.getColumnName)
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val out = Iterator.continually(rs)
      .takeWhile(_.next())
      .map(r => order.map(i => cell(r.getObject(i + 1))))
      .toSeq
    st.close()
    out.sortBy(_.mkString(""))
  }

  test("roster: a duplicate query name fails at construction") {
    val q = SparkEntry.roster.last
    val e = intercept[IllegalArgumentException](QuerySpec.unique(SparkEntry.roster :+ q))
    assert(e.getMessage.contains(q.name))
  }

  SparkEntry.oracleSql.keys.toSeq.sorted.foreach { name =>
    test(s"oracle parity: $name") {
      val got = sparkRows(name)
      val want = duckRows(name)
      assert(got.length === want.length, s"$name row count")
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g === w, s"$name row $i")
      }
    }
  }
}
