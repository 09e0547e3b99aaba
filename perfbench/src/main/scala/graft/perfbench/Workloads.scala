package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{CellSpace, PolygonCover}
import graft.model.Model
import graft.operators.{GroundOps, InfoOps, JoinOps, TileOps}
import graft.plans.{Manifest, Pipeline}
import graft.sources.{DocSynth, LasDecode, LasWriter}

/** The outcome of an op's check, run after the op's timer stopped. */
final case class Verdict(error: Option[String], digest: String,
                         extras: Map[String, Double] = Map.empty)

/** One op as the loop sees it. `points`/`docs` are the input it
  * processed; `verify` checks the output (untimed); `probe` measures
  * layer counters (traced runs only, untimed); `parts` are the seconds
  * of the op's own steps. */
final case class OpOut(kind: String, points: Long, docs: Long, verify: () => Verdict,
                       probe: () => Map[String, Double] = () => Map.empty,
                       cleanup: () => Unit = () => (),
                       parts: Map[String, Double] = Map.empty)

/** A closed-loop workload with one client. `roundSize` ops form a round
  * that cycles through the workload's op mix; the loop only stops
  * between rounds, so every run measures the same mix. */
trait Workload {
  def roundSize: Int
  /** Untimed ops run first, until the JIT and Spark's code caches settle. */
  def warmupOps: Int
  /** Builds the inputs under `dir` (a fresh directory); returns named
    * sub-times in seconds. */
  def setup(dir: String): Map[String, Double]
  def op(i: Int): OpOut
}

object Workload {
  val Names: Seq[String] = Seq("crop_tile", "neighbors", "las_pipeline")

  def apply(name: String, spark: SparkSession, tr: Tracer, seed: Long, work: String): Workload =
    name match {
      case "crop_tile" => new CropTile(spark, tr, seed)
      case "neighbors" => new Neighbors(spark, tr, seed)
      case "las_pipeline" => new LasPipeline(spark, tr, seed, work)
    }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def treeBytes(p: Path, keep: Path => Boolean = _ => true): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try {
      var n = 0L
      s.filter(f => Files.isRegularFile(f) && keep(f)).forEach(f => n += Files.size(f))
      n
    } finally s.close()
  }
}

/** A convex polygon with counter-clockwise vertices. */
final case class ConvexPolygon(vx: Array[Double], vy: Array[Double]) {
  def wkt: String = (vx.indices :+ 0).map(i => s"${vx(i)} ${vy(i)}").mkString("POLYGON ((", ", ", "))")
  /** Strict half-plane test against every edge: the same containment
    * SparkEntry's hexagon oracle expresses in SQL. */
  def contains(x: Double, y: Double): Boolean = {
    var i = 0; val n = vx.length
    while (i < n) {
      val j = (i + 1) % n
      if ((vx(j) - vx(i)) * (y - vy(i)) - (vy(j) - vy(i)) * (x - vx(i)) <= 0) return false
      i += 1
    }
    true
  }
}

object ConvexPolygon {
  /** `n` polygons inscribed in circles whose radii are log-spaced from 6
    * to 450 units: from a few cover cells to most of the [0,1000)² extent.
    * The seed draws the centres, vertex counts and vertex angles; the
    * size mix is the same for every seed, so seeds change where the work
    * is, not how much of it there is. */
  def stratified(seed: Long, n: Int): IndexedSeq[ConvexPolygon] = {
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    (0 until n).map { k =>
      val r = 6.0 * math.pow(450.0 / 6.0, k.toDouble / (n - 1))
      val span = math.max(0.0, 1000.0 - 2 * r)
      val cx = 500.0 - span / 2 + rnd.nextDouble() * span
      val cy = 500.0 - span / 2 + rnd.nextDouble() * span
      val m = 5 + rnd.nextInt(5)
      val t0 = rnd.nextDouble() * 2 * math.Pi
      val ang = (0 until m).map(j => t0 + 2 * math.Pi * (j + 0.8 * rnd.nextDouble()) / m)
      ConvexPolygon(ang.map(a => cx + r * math.cos(a)).toArray, ang.map(a => cy + r * math.sin(a)).toArray)
    }
  }
}

/** The paper's headline job: scan the interleaved doc table, decode the
  * point spans, crop to a polygon (cell-cover prefilter + exact PIP) and
  * assign splitter tiles, then count points and distinct docs per tile.
  * Time goes to the scan, span decode and the PIP kernels; there is next
  * to no shuffle, so neighbour, chipper and codec changes should not move
  * it. */
final class CropTile(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  private val Orders = 6000
  private val Replicas = 8
  private val TileLen = 64.0
  private val polys = ConvexPolygon.stratified(seed, 8)
  val roundSize: Int = polys.size
  val warmupOps: Int = 2 * roundSize
  private var docsDir = ""
  private var cloud: Cloud = _
  private var nDocs = 0L

  def setup(dir: String): Map[String, Double] = {
    val li = Inputs.lineItems(Inputs.DataSeed, Orders)
    val (_, genS) = Workload.timed(Inputs.write(spark, li, s"$dir/sf"))
    val (_, synthS) = Workload.timed(
      DocSynth.docTableReplicated(spark, s"$dir/sf", Replicas).write.parquet(s"$dir/docs"))
    docsDir = s"$dir/docs"
    cloud = Inputs.replicatedXY(li, Replicas)
    nDocs = li.orderkey.distinct.length.toLong * Replicas
    Map("input_gen_s" -> genS, "sources.synth_s" -> synthS)
  }

  def op(i: Int): OpOut = {
    val poly = polys(i % polys.size)
    val docs = tr.span("sources", "read.parquet")(spark.read.parquet(docsDir))
    val pts = tr.span("model", "explodePoints")(Model.explodePoints(docs))
    val inside = tr.span("operators", "cropPolygon")(JoinOps.cropPolygon(poly.wkt)(pts))
    val tiled = tr.span("operators", "splitter")(TileOps.splitter(TileLen, 0.0, 0.0)(inside))
    val rows = tr.span("operators", "tile_counts.collect") {
      tiled.groupBy("tile_x", "tile_y")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("docs")).collect()
    }
    val got = rows.map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    OpOut("crop_tile", cloud.size, nDocs,
      verify = () => {
        val want = expectedTiles(poly)
        val err = if (got == want) None else Some(
          s"crop_tile op $i: ${got.map(_._3).sum} points in ${got.size} tiles, " +
            s"half-plane count says ${want.map(_._3).sum} in ${want.size}")
        Verdict(err, Inputs.digest(got.map(_.toString)))
      },
      probe = () => coverProbe(poly))
  }

  /** Per-tile (count, distinct docs) of the points strictly inside, by
    * the half-plane test over the benchmark's own copy of the points. */
  private def expectedTiles(poly: ConvexPolygon): Seq[(Int, Int, Long, Long)] = {
    val byTile = scala.collection.mutable.HashMap.empty[(Int, Int), (Long, scala.collection.mutable.HashSet[Long])]
    var i = 0
    while (i < cloud.size) {
      val x = cloud.x(i); val y = cloud.y(i)
      if (poly.contains(x, y)) {
        val k = ((x / TileLen).toInt, (y / TileLen).toInt)
        val (n, ds) = byTile.getOrElse(k, (0L, scala.collection.mutable.HashSet.empty[Long]))
        ds += cloud.doc(i)
        byTile(k) = (n + 1, ds)
      }
      i += 1
    }
    byTile.toSeq.map { case ((tx, ty), (n, ds)) => (tx, ty, n, ds.size.toLong) }.sorted
  }

  /** Cover size and precision for the op's polygon, at the level the
    * crop picks: how many points need the exact test and how many of
    * those turn out inside. */
  private def coverProbe(poly: ConvexPolygon): Map[String, Double] = {
    val space = CellSpace.default
    val geom = PolygonCover.fromWkt(poly.wkt)
    val level = PolygonCover.autoLevel(geom, space)
    val (cover, coverS) = Workload.timed(tr.span("index", "PolygonCover.cover") {
      PolygonCover.cover(geom, space, level)
    })
    val boundary = cover.boundary.toSet
    val env = geom.getEnvelopeInternal
    var tests = 0L; var hits = 0L; var i = 0
    while (i < cloud.size) {
      val x = cloud.x(i); val y = cloud.y(i)
      if (env.contains(x, y) && boundary.contains(space.cellAt(x, y, level))) {
        tests += 1
        if (poly.contains(x, y)) hits += 1
      }
      i += 1
    }
    Map("index.cover_ms" -> coverS * 1000, "index.cover_cells" -> cover.all.length.toDouble,
      "index.exact_test_frac" -> tests.toDouble / cloud.size) ++
      (if (tests > 0) Map("index.exact_hit_ratio" -> hits.toDouble / tests) else Map.empty)
  }
}

/** The neighbour family: statistical and radius outlier removal, exact
  * progressive morphological ground filtering and nearest-neighbour
  * deltas. One op is one pass of all four over seeded subsets of a
  * materialised cloud (their times differ by 4x, so a per-call median
  * would depend on which calls a run happened to end on). Ring-cell pair
  * building and driver-side rounds dominate; scan and codec work is small. */
final class Neighbors(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  val roundSize = 1
  val warmupOps = 1
  private val Orders = 6000
  private val SubsetMod = 6
  private val K = 4
  private val RorRadius = 40.0
  private val RorMin = 2
  private val Pmf = GroundOps.PmfParams(cellSize = 4, maxWindowSize = 36, slope = 1.0,
    initialDistance = 2.0, maxDistance = 20.0)
  private var cloudDir = ""
  private var cloud: Cloud = _
  /** Residues of intensity mod SubsetMod selecting the subsets of one
    * pass (SOR, PMF, ROR, delta source, delta candidates); three seeded
    * variants that passes cycle through. */
  private val residues: Array[Array[Int]] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    Array.fill(3, 5)(rnd.nextInt(SubsetMod))
  }

  def setup(dir: String): Map[String, Double] = {
    val li = Inputs.lineItems(Inputs.DataSeed, Orders)
    val (_, genS) = Workload.timed(Inputs.write(spark, li, s"$dir/sf"))
    val (_, synthS) = Workload.timed(
      Model.explodePoints(DocSynth.docTable(spark, s"$dir/sf")).write.parquet(s"$dir/cloud"))
    cloudDir = s"$dir/cloud"
    cloud = Inputs.collect(spark.read.parquet(cloudDir))
    Map("input_gen_s" -> genS, "sources.synth_s" -> synthS)
  }

  private def subsetDf(res: Int): DataFrame =
    spark.read.parquet(cloudDir).filter(pmod(col("intensity"), lit(SubsetMod)) === res)
  private def subsetCloud(res: Int): Cloud =
    cloud.subset(j => Math.floorMod(cloud.intensity(j), SubsetMod) == res)

  private def ids(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Int)] =
    rows.map(r => (r.getString(0).toLong, r.getInt(1))).toSet

  def op(i: Int): OpOut = {
    val Array(sorRes, pmfRes, rorRes, srcRes, candRes) = residues(i % residues.length)
    val (sor, sorS) = Workload.timed(tr.span("operators", "statisticalOutlierRemoval") {
      ids(JoinOps.statisticalOutlierRemoval(k = K, multThresh = 1.0, level = JoinOps.AutoLevel)(
        subsetDf(sorRes)).select("doc_id", "span_idx").collect())
    })
    val (pmf, pmfS) = Workload.timed(tr.span("operators", "pmfExact") {
      ids(GroundOps.pmfExact(Pmf)(subsetDf(pmfRes))
        .filter(col("classification") === 2).select("doc_id", "span_idx").collect())
    })
    val (ror, rorS) = Workload.timed(tr.span("operators", "radiusOutlierRemoval") {
      ids(InfoOps.radiusOutlierRemoval(RorRadius, RorMin, level = 4)(subsetDf(rorRes))
        .select("doc_id", "span_idx").collect())
    })
    val (delta, deltaS) = Workload.timed(tr.span("operators", "delta") {
      JoinOps.delta(subsetDf(srcRes), subsetDf(candRes), level = JoinOps.AutoLevel)
        .select("doc_id", "span_idx", "dx", "dy", "dz").collect()
        .map(r => (r.getString(0).toLong, r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toSeq.sorted
    })
    val subs = Seq(sorRes, pmfRes, rorRes, srcRes, candRes).map(subsetCloud)
    OpOut("neighbors", subs.map(_.size.toLong).sum, 0,
      verify = () => {
        val Seq(sorSub, pmfSub, rorSub, src, cand) = subs
        def idsOf(c: Cloud, js: Set[Int]) = js.map(j => (c.doc(j), c.span(j)))
        val wantDelta = Brute.delta(src, cand).sorted
        val errs = Seq(
          setError("sor", sor, Brute.sor(sorSub, K, 1.0)),
          setError("pmf", pmf, idsOf(pmfSub, Brute.pmfGround(pmfSub, GroundOps.pclLadder(Pmf))) -> Set.empty),
          setError("ror", ror, idsOf(rorSub, Brute.ror(rorSub, RorRadius, RorMin)) -> Set.empty),
          if (delta == wantDelta) None
          else Some(s"delta: ${delta.diff(wantDelta).size} of ${delta.size} rows differ from brute force")
        ).flatten
        Verdict(if (errs.isEmpty) None else Some(s"neighbors op $i: ${errs.mkString("; ")}"),
          Inputs.digest(Seq(sor, pmf, ror).map(_.toSeq.sorted.mkString(",")) :+ delta.mkString(",")))
      },
      probe = () => pairYield(sorRes, subs.head),
      parts = Map("operators.sor_s" -> sorS, "operators.pmf_s" -> pmfS, "operators.ror_s" -> rorS,
        "operators.delta_s" -> deltaS))
  }

  /** `want` is (expected set, ids whose membership is too close to a
    * floating-point threshold to call). */
  private def setError(kind: String, got: Set[(Long, Int)],
                       want: (Set[(Long, Int)], Set[(Long, Int)])): Option[String] = {
    val (exp, ambiguous) = want
    val wrong = ((got -- exp) ++ (exp -- got)) -- ambiguous
    if (wrong.isEmpty) None else Some(s"$kind: ${wrong.size} of ${exp.size} points differ from brute force")
  }

  /** k·targets over the ring-pair rows the kNN join builds at the level
    * SOR's auto pick uses: the share of built pairs that are answers. */
  private def pairYield(res: Int, sub: Cloud): Map[String, Double] = {
    val zs = sub.z.sorted
    val zSpread = if (zs.isEmpty) 0.0 else zs((zs.length * 95) / 100) - zs((zs.length * 5) / 100)
    val level = JoinOps.knnAutoLevel(sub.size.toLong, K, CellSpace.default, zSpread, 6.0)
    val slim = subsetDf(res).select("doc_id", "span_idx", "x", "y", "z")
    val pairs = tr.span("operators", "knnPairs.count") {
      JoinOps.knnPairs(slim, slim, level, CellSpace.default, dims3 = true).count()
    }
    if (pairs == 0) Map.empty else Map("operators.knn_pair_yield" -> K.toDouble * sub.size / pairs)
  }
}

/** The write path and the pipeline interpreter: a JSON pipeline reads a
  * multi-chunk LAZ archive chunk-parallel, range-filters it, runs the
  * exact chipper with a checkpoint and writes LAZ; a second run of the
  * same spec must resume every checkpointed stage. The only workload
  * that writes (checkpoint parquet, manifests, LAZ encode), with the
  * largest shuffle (the chipper); it never reaches the PIP or kNN code. */
final class LasPipeline(spark: SparkSession, tr: Tracer, seed: Long, work: String) extends Workload {
  val roundSize = 1
  val warmupOps = 4
  private val Orders = 3000
  private val Capacity = 1250
  private val Scale = 0.001
  private var inPath = ""
  private var cloud: Cloud = _

  def setup(dir: String): Map[String, Double] = {
    val li = Inputs.lineItems(Inputs.DataSeed, Orders)
    val (_, genS) = Workload.timed(Inputs.write(spark, li, s"$dir/sf"))
    val (pts, synthS) = Workload.timed(
      Model.explodePoints(DocSynth.docTable(spark, s"$dir/sf")).orderBy("doc_id", "span_idx")
        .localCheckpoint())
    inPath = s"$dir/in.laz"
    val (_, encS) = Workload.timed(LasWriter.writeLaz(inPath, pts, pointFormat = 1,
      LasWriter.XForms(Scale, Scale, Scale, 0, 0, 0), chunkSize = 2000))
    cloud = Inputs.collect(pts)
    Map("input_gen_s" -> genS, "sources.synth_s" -> synthS, "sources.laz_write_s" -> encS)
  }

  def op(i: Int): OpOut = {
    // a seeded window of fixed width keeps about half of the uniform z
    // range, so every op chips the same number of points into the same
    // number of chips; bounds at quarter offsets leave no 0.5-grid z on a
    // bound, so LAS quantisation cannot move a point across one
    val lo = 10.25 + math.floor(new java.util.Random(seed * 131 + i).nextDouble() * 250)
    val hi = lo + 240
    val opDir = Paths.get(work, s"pipeline-op$i")
    val out = opDir.resolve("out.laz").toString
    val ck = opDir.resolve("ck").toString
    val spec =
      s"""{"pipeline": [
         |  {"type": "readers.las", "path": "$inPath", "splits": 4},
         |  {"type": "filters.range", "limits": [{"dimension": "z", "min": $lo, "max": $hi}]},
         |  {"type": "filters.chipper", "capacity": $Capacity, "method": "exact", "checkpoint": true},
         |  {"type": "writers.las", "path": "$out", "format": 1,
         |   "scale": [$Scale, $Scale, $Scale], "offset": [0, 0, 0]}
         |], "checkpoint_root": "$ck"}""".stripMargin
    Files.createDirectories(opDir)
    val first = tr.span("plans", "Pipeline.run")(Pipeline.run(spark, spec))
    val header = tr.span("sources", "LasDecode.headerOf")(LasDecode.headerOf(out))
    var resumeS = 0.0
    var resumed = Seq.empty[String]
    OpOut("pipeline", cloud.size, 0,
      verify = () => {
        val want = cloud.subset(j => cloud.z(j) >= lo && cloud.z(j) <= hi)
        val key = (x: Double, y: Double, z: Double) =>
          (math.round(x * 2), math.round(y * 2), math.round(z * 2))
        val (_, rows) = LasDecode.readPoints(out)
        val got = rows.map(r => key(r.getDouble(2), r.getDouble(3), r.getDouble(4))).sorted
        val exp = want.x.indices.map(j => key(want.x(j), want.y(j), want.z(j))).sorted
        val (second, rs) = Workload.timed(tr.span("plans", "Pipeline.run(resume)")(Pipeline.run(spark, spec)))
        resumeS = rs; resumed = second.resumedStages
        val checkpointed = first.ranStages.filter(s => s.contains("chipper") || s.contains("writers"))
        val errs = Seq(
          if (header.pointCount != want.size)
            Some(s"header holds ${header.pointCount} points, range filter keeps ${want.size}") else None,
          if (got != exp) Some(s"written points differ from the range-filtered input") else None,
          if (checkpointed.size != 2 || !checkpointed.forall(second.resumedStages.contains))
            Some(s"resume ran ${second.ranStages.mkString(",")}, resumed ${second.resumedStages.mkString(",")}")
          else None).flatten
        val stored = Workload.treeBytes(Paths.get(ck)) + Files.size(Paths.get(out))
        Verdict(if (errs.isEmpty) None else Some(s"las_pipeline op $i: ${errs.mkString("; ")}"),
          Inputs.digest(got.map(_.toString)),
          Map("resume_s" -> rs, "stored_bytes_per_point" -> stored.toDouble / cloud.size))
      },
      probe = () => {
        val chipStage = first.ranStages.find(_.contains("chipper")).get
        val (_, lineageS) = Workload.timed(tr.span("plans", "Manifest.lineageOf") {
          Manifest.lineageOf(Manifest.readData(spark, ck, chipStage))
        })
        Map("plans.lineage_ms" -> lineageS * 1000,
          "plans.manifest_bytes" -> Workload.treeBytes(Paths.get(ck), _.getFileName.toString == "manifest.json").toDouble,
          "plans.ran_stages" -> first.ranStages.size.toDouble,
          "plans.resumed_stages" -> resumed.size.toDouble,
          "plans.resume_ms" -> resumeS * 1000)
      },
      cleanup = () => Workload.deleteTree(opDir))
  }
}

/** Brute-force references for the neighbour operators, over the
  * benchmark's own copy of a subset. Quadratic, fine at subset sizes. */
object Brute {
  private def d2(c: Cloud, i: Int, j: Int, dims3: Boolean): Double = {
    val dx = c.x(i) - c.x(j); val dy = c.y(i) - c.y(j)
    val dz = if (dims3) c.z(i) - c.z(j) else 0.0
    dx * dx + dy * dy + dz * dz
  }

  /** SOR: mean 3D distance to the k nearest others, quantised to 1e-6
    * and thresholded at mean + mult·sigma in the same scalar sequence as
    * the operator. Points within two quanta of the threshold are returned
    * as ambiguous. */
  def sor(c: Cloud, k: Int, mult: Double): (Set[(Long, Int)], Set[(Long, Int)]) = {
    val n = c.size
    val q = new Array[Long](n)
    for (i <- 0 until n) {
      val best = Array.fill(k)(Double.MaxValue)
      for (j <- 0 until n if j != i) {
        val d = d2(c, i, j, dims3 = true)
        if (d < best(k - 1)) {
          var p = k - 1
          while (p > 0 && best(p - 1) > d) { best(p) = best(p - 1); p -= 1 }
          best(p) = d
        }
      }
      val md = best.map(math.sqrt).sum / k
      q(i) = math.floor(md * 1000000.0 + 0.5).toLong
    }
    val s1 = q.map(BigInt(_)).sum.toDouble
    val s2 = q.map(v => BigInt(v) * v).sum.toDouble
    val mean = s1 / n
    val varS = (s2 - s1 * s1 / n) / (n - 1)
    val t = mean + mult * math.sqrt(math.max(varS, 0.0))
    val id = (i: Int) => (c.doc(i), c.span(i))
    ((0 until n).filter(i => q(i) <= t).map(id).toSet,
      (0 until n).filter(i => math.abs(q(i) - t) <= 2).map(id).toSet)
  }

  /** ROR: indices with at least `min` other points within `radius` (3D). */
  def ror(c: Cloud, radius: Double, min: Int): Set[Int] =
    (0 until c.size).filter { i =>
      var cnt = 0; var j = 0
      while (j < c.size && cnt < min) {
        if (j != i && d2(c, i, j, dims3 = true) <= radius * radius) cnt += 1
        j += 1
      }
      cnt >= min
    }.toSet

  /** Nearest candidate in 2D per source point, ties broken by
    * (distance², doc id as text, span index); rows (doc, span, dx, dy, dz). */
  def delta(src: Cloud, cand: Cloud): Seq[(Long, Int, Double, Double, Double)] =
    (0 until src.size).map { i =>
      var best = -1; var bd = Double.MaxValue
      for (j <- 0 until cand.size) {
        val dx = src.x(i) - cand.x(j); val dy = src.y(i) - cand.y(j)
        val d = dx * dx + dy * dy
        if (best < 0 || d < bd || (d == bd && {
          val a = cand.doc(j).toString; val b = cand.doc(best).toString
          a < b || (a == b && cand.span(j) < cand.span(best))
        })) { best = j; bd = d }
      }
      (src.doc(i), src.span(i), src.x(i) - cand.x(best), src.y(i) - cand.y(best),
        src.z(i) - cand.z(best))
    }

  /** Exact progressive morphological filter: per round, erode (min z)
    * and then dilate (max of eroded) over the square window of half-size
    * w/2 around each surviving point, keeping points with
    * z - opened < threshold. Returns the indices of the final ground set. */
  def pmfGround(c: Cloud, ladder: Seq[(Double, Double)]): Set[Int] = {
    var ground: Array[Int] = c.x.indices.sortBy(c.x(_)).toArray
    for ((w, dh) <- ladder) {
      val r = w / 2.0
      val xs = ground.map(c.x)
      def window(t: Int)(f: Int => Unit): Unit = {
        var p = java.util.Arrays.binarySearch(xs, c.x(t) - r)
        p = if (p < 0) -p - 1 else { while (p > 0 && xs(p - 1) >= c.x(t) - r) p -= 1; p }
        while (p < xs.length && xs(p) <= c.x(t) + r) {
          if (math.abs(c.y(ground(p)) - c.y(t)) <= r) f(p)
          p += 1
        }
      }
      val eroded = ground.map { t =>
        var m = Double.MaxValue; window(t)(p => m = math.min(m, c.z(ground(p)))); m
      }
      ground = ground.filter { t =>
        var m = Double.MinValue; window(t)(p => m = math.max(m, eroded(p)))
        c.z(t) - m < dh
      }
    }
    ground.toSet
  }
}
