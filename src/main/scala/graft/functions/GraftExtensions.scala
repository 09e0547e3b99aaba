package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.index.CellSpace
import graft.operators.HexGrid

/** SparkSessionExtensions registering the engine's scalar functions for
  * SQL use (`spark.sql("SELECT morton_key(x, y) ...")`):
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or: --conf spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * Functions operate in CellSpace.default; geometry arguments are WKT
  * string literals (parsed once at plan time, prepared per executor).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.PipPrefilterRule)
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
  }
}

object GraftExtensions {
  private def litInt(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }
  private def litStr(e: Expression): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(s"expected string literal, got $other")
  }

  /** The engine's SQL functions: name -> expression builder. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "morton_key" -> (args => MortonKey(args(0), args(1), CellSpace.default)),
    "cell_id" -> (args => CellId(args(0), args(1), CellSpace.default, litInt(args(2)))),
    "st_contains_xy" -> { args =>
      val wkb = graft.index.GeomCache.toWkb(
        graft.index.PolygonCover.fromWkt(litStr(args(0))))
      STContainsXY(args(1), args(2), wkb)
    },
    "hex_cell" -> (args => HexGrid.HexCellExpr(args(0), args(1), args(2))),
    "simhash64" -> (args => graft.operators.SimHash64(args(0))),
    "neighbor_cells" -> (args => graft.operators.NeighborCellsExpr(args(0), CellSpace.default)),
    "dot_self" -> (args => graft.operators.AnnOps.DotSelf(args(0))),
    "dot_arrays" -> (args => graft.operators.AnnOps.DotArrays(args(0), args(1))))

  /** Register the same functions on an ALREADY-RUNNING session (temp
    * functions) — for shells/tests where withExtensions wasn't used. */
  def registerTemp(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
