package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.ParsePointPayload
import graft.index.{CellSpace, GeomCache, PolygonCover}
import graft.model.Model
import graft.sources.{Bpf, LasDecode, LasWriter}
import graft.sources.laz.LazDecoder

/** Single-thread kernel microbenches over fixed in-memory inputs: the
  * per-point inner loops the workloads' layers are built from. Each rate
  * is the median of five timed batches after a warm-up, in points/s. */
object Kernels {
  private var sink = 0L

  /** Median points/s of `body`, which processes `n` points per call. */
  private def rate(n: Long)(body: => Long): Double = {
    (0 until 3).foreach(_ => sink += body)
    val rates = (0 until 5).map { _ =>
      var calls = 0; val t0 = System.nanoTime(); var t = t0
      while (t - t0 < 60000000L) { sink += body; calls += 1; t = System.nanoTime() }
      n.toDouble * calls / ((t - t0) / 1e9)
    }.sorted
    rates(2)
  }

  def run(spark: SparkSession, seed: Long, work: String): Map[String, Double] = {
    val rnd = new java.util.Random(seed + 99)
    val n = 100000
    val xi = Array.fill(n)(rnd.nextInt(2000).toLong)
    val yi = Array.fill(n)(rnd.nextInt(2000).toLong)
    val zi = Array.fill(n)(20L + rnd.nextInt(1000))
    val x = xi.map(_ * 0.5); val y = yi.map(_ * 0.5)

    val payloads = Array.tabulate(n)(i =>
      UTF8String.fromString(s"${xi(i)},${yi(i)},${zi(i)},${rnd.nextInt(65536)},${i * 32L + 1}"))
    val parse = rate(n) {
      var i = 0; var acc = 0L
      while (i < n) { acc += ParsePointPayload.parse(payloads(i)).getLong(0); i += 1 }
      acc
    }

    val space = CellSpace.default
    val cell = rate(n) {
      var i = 0; var acc = 0L
      while (i < n) { acc ^= space.cellAt(x(i), y(i), 16); i += 1 }
      acc
    }

    val polys = ConvexPolygon.stratified(seed, 8)
    val wkb = GeomCache.toWkb(PolygonCover.fromWkt(polys(5).wkt))
    val contains = rate(n) {
      var i = 0; var acc = 0L
      while (i < n) { if (GeomCache.containsXY(wkb, x(i), y(i))) acc += 1; i += 1 }
      acc
    }

    val geoms = polys.map(p => PolygonCover.fromWkt(p.wkt))
    val coverPerS = rate(geoms.size) {
      geoms.map(g => PolygonCover.cover(g, space, PolygonCover.autoLevel(g, space)).all.length.toLong).sum
    }

    // codec inputs: one in-memory point frame written as LAS 1.2 (POINT10)
    // and LAS 1.4 (POINT14), compressed to multi-chunk LAZ, and as a
    // dim-major deflated BPF image
    val m = 50000
    val frame = spark.range(m).select(
      col("id").cast("string").as("doc_id"), col("id").cast("int").as("span_idx"),
      (pmod(col("id") * 7919, lit(2000)) * 0.5).as("x"),
      (pmod(col("id") * 104729, lit(2000)) * 0.5).as("y"),
      (pmod(col("id") * 31, lit(1000)) * 0.5 + 10).as("z"),
      pmod(col("id") * 17, lit(65536)).cast("int").as("intensity"),
      (col("id") * 32).cast("double").as("gps_time")).localCheckpoint()
    val xf = LasWriter.XForms(0.001, 0.001, 0.001, 0, 0, 0)
    def lasBytes(fmt: Int): Array[Byte] = {
      val p = Paths.get(work, s"kernel-$fmt.las")
      LasWriter.write(p.toString, frame, fmt, xf)
      try Files.readAllBytes(p) finally Files.delete(p)
    }
    val las10 = lasBytes(1)
    val las14 = lasBytes(6)
    val encode = rate(m)(LasWriter.lasToLaz(las10, 10000).length.toLong)
    def decodeRates(laz: Array[Byte]): (Double, Double) = {
      val bb = ByteBuffer.wrap(laz).order(ByteOrder.LITTLE_ENDIAN)
      val h = LasDecode.readHeader(bb)
      val vlr = LasDecode.lazVlrOf(bb).get
      val whole = rate(m) {
        LazDecoder.decompress(laz, h.dataOffset.toInt, h.pointCount.toInt, h.recordLen, vlr).length.toLong
      }
      val (starts, counts) = LazDecoder.chunkBoundaries(laz, h.dataOffset.toInt, h.pointCount.toInt, vlr)
      val chunk = rate(counts.head) {
        LazDecoder.decompressChunk(laz, starts.head, counts.head, h.recordLen, vlr).length.toLong
      }
      (whole, chunk)
    }
    val (laz10, laz10Chunk) = decodeRates(LasWriter.lasToLaz(las10, 10000))
    val (laz14, laz14Chunk) = decodeRates(LasWriter.lasToLaz(las14, 10000))

    val cols = Bpf.writeColumns(frame.schema)
    val rows = frame.selectExpr(cols.map(c => s"cast(`$c` as double)"): _*).collect()
      .map(r => Array.tabulate(cols.size)(r.getDouble))
    val bpf = Bpf.imageBytes(cols, rows, Bpf.WriteOpts(format = Bpf.DimMajor, compression = true))
    val bpfDecode = rate(m)(Bpf.decode(bpf, "k")._2.size.toLong)

    // span decode as the engine plans it (explode + parse) over a
    // checkpointed doc table: a Spark job on all cores, not one thread
    val docs = spark.range(n / 4).select(col("id").cast("string").as("doc_id"),
      array((0 until 4).map(k => struct(lit("point").as("kind"),
        concat_ws(",", pmod(col("id") * 37 + k, lit(2000)).cast("string"),
          pmod(col("id") * 13 + k, lit(2000)).cast("string"), lit("100"), lit("7"),
          (col("id") * 32 + k).cast("string")).as("text"),
        lit("").as("media_ref"), lit(k * 3).as("offset"))): _*).as("spans")).localCheckpoint()
    val explode = rate(n)(Model.explodePoints(docs).agg(sum("x")).head().getDouble(0).toLong)

    Map(
      "functions.payload_parse_pts_s" -> parse,
      "index.cell_id_pts_s" -> cell,
      "index.contains_pts_s" -> contains,
      "index.cover_per_s" -> coverPerS,
      "sources.laz_encode_pts_s" -> encode,
      "sources.laz_decode_pts_s" -> laz10,
      "sources.laz_chunk_decode_pts_s" -> laz10Chunk,
      "sources.laz14_decode_pts_s" -> laz14,
      "sources.laz14_chunk_decode_pts_s" -> laz14Chunk,
      "sources.bpf_decode_pts_s" -> bpfDecode,
      "model.explode_pts_s" -> explode)
  }
}
