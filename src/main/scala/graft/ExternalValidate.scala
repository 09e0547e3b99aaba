package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.sources.{LasDecode, LasWriter, Pcd}

/** Codec and pipeline helpers for cross-validating the clean-room LAZ
  * and PCD codecs against real laszip/PCL/PDAL installations (driven by
  * `tools/external_validate.sh`, recipe in SCALE.md):
  *
  * {{{
  *   sbt "runMain graft.ExternalValidate compress <in.las> <out.laz>"
  *   sbt "runMain graft.ExternalValidate pcd-convert <in.pcd> <out.pcd> <ascii|binary|binary_compressed>"
  *   sbt "runMain graft.ExternalValidate diff <a> <b>"       # .las/.laz or .pcd
  *   sbt "runMain graft.ExternalValidate pipeline <spec.json>"
  * }}}
  *
  * `diff` decodes both files, prints the first divergence per field and
  * exits 1 on any divergent row or row-count mismatch.
  */
object ExternalValidate {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("compress", in, out) =>
      val src = Files.readAllBytes(Paths.get(in))
      val laz = LasWriter.lasToLaz(src)
      Files.write(Paths.get(out), laz)
      println(s"$in (${src.length} B) -> $out (${laz.length} B)")

    case Seq("pcd-convert", in, out, mode) =>
      val bytes = Files.readAllBytes(Paths.get(in))
      val (schema, rows) = Pcd.decode(bytes, in)
      // decode prepends (doc_id, span_idx) bookkeeping — drop both
      val cols = schema.fields.toSeq.drop(2).map(f => (f.name, f.dataType))
      val recs = rows.map(r => Array.tabulate(cols.length)(i => r.get(i + 2))).toIndexedSeq
      val image = Pcd.imageBytes(cols, recs, mode, shiftOrigin = false)
      Files.write(Paths.get(out), image)
      println(s"$in (${bytes.length} B) -> $out (${image.length} B, $mode)")

    case Seq("diff", a, b) =>
      val (sa, ra) = decode(a)
      val (sb, rb) = decode(b)
      println(s"a: ${ra.size} rows ${sa.fieldNames.mkString(",")}; " +
        s"b: ${rb.size} rows ${sb.fieldNames.mkString(",")}")
      require(sa.fieldNames.sameElements(sb.fieldNames), "schema mismatch")
      val badRows = firstDivergences(sa.fieldNames.toSeq, ra, rb)
      println(s"bad rows: $badRows / ${ra.size}")
      if (badRows > 0 || ra.size != rb.size) sys.exit(1)

    case Seq("pipeline", specPath) =>
      val spec = new String(Files.readAllBytes(Paths.get(specPath)), "UTF-8")
      GraftSession.withSession() { spark =>
        val out = graft.plans.Pipeline.run(spark, spec)
        println(s"pipeline ok: ${out.df.count()} rows")
      }

    case _ =>
      sys.error("usage: compress <in.las> <out.laz> | pcd-convert <in.pcd> <out.pcd> <mode>" +
        " | diff <a> <b> | pipeline <spec.json>")
  }

  /** Decodes a PCD (by extension) or LAS/LAZ file. Both sides of a diff
    * get the same doc_id, so every decoded field is comparable. */
  private def decode(path: String): (StructType, Seq[Row]) =
    if (path.toLowerCase.endsWith(".pcd")) Pcd.decode(Files.readAllBytes(Paths.get(path)), "file")
    else (LasDecode.schema, LasDecode.readPoints(path, "file")._2)

  /** Compares `a` and `b` row by row over their common prefix, printing
    * the first divergent row of each field; returns the divergent-row
    * count. */
  private def firstDivergences(fields: Seq[String], a: Seq[Row], b: Seq[Row]): Int = {
    val reported = scala.collection.mutable.Set.empty[String]
    a.zip(b).zipWithIndex.count { case ((ra, rb), i) =>
      val bad = fields.indices.filter(f => ra.get(f) != rb.get(f))
      bad.foreach { f =>
        if (reported.add(fields(f)))
          println(s"  field ${fields(f)} first differs at row $i: a=${ra.get(f)} b=${rb.get(f)}")
      }
      bad.nonEmpty
    }
  }
}
