package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, Envelope, GeometryFactory, Location, Polygon}
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.io.{ByteOrderValues, WKBReader, WKBWriter}
import graft.pipeline.{Checkpoint, GeoPipeline, WebCorpus}
import graft.sql.{functions => gf}

/** What a workload measures per layer in a traced run. */
final case class LayerCtx(spark: SparkSession, rec: Recorder, tracer: Tracer, trace: Int,
    nproc: Int, check: (String, Boolean, => String) => Unit) {
  /** Run `body` as a span; returns its value, wall seconds and the executor CPU ns of its jobs. */
  def probe[T](name: String)(body: => T): (T, Double, Long) = {
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = tracer.span(trace, -1, name)(_ => body)
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
    val ts = rec.tasksIn(from, System.currentTimeMillis())
    (out, wall, ts.map(_.cpuNs).sum)
  }
}

/** One seeded workload. The runner calls `setup` once per set-up
  * repetition (each in a fresh session), then `prepareOp` (untimed),
  * `run` (timed) and `observe` (untimed) for every operation, and
  * compares what `observe` returns with `expected`. */
trait Workload {
  def name: String
  /** Work units one operation processes (pages, points or rows). */
  def items: Long
  def setup(spark: SparkSession, rep: Int): Unit
  def prepareOp(spark: SparkSession): Unit = ()
  def run(spark: SparkSession): AnyRef
  def observe(spark: SparkSession, raw: AnyRef): Seq[Long]
  def expected(spark: SparkSession): Seq[Long]
  /** The timed SQL queries: (name, un-reduced, reduced as timed). */
  def timedQueries(spark: SparkSession): Seq[(String, DataFrame, DataFrame)] = Nil
  /** Per-layer metrics of this workload's own layers (traced run only). */
  def layers(ctx: LayerCtx): Seq[(String, Double)] = Nil
  /** Facts about the generated input, for the result record. */
  def describe: Seq[(String, String)] = Nil
}

object Seeded {
  /** Uniform double in [0, 1) from Spark's xxhash64(id, seed, salt); the
    * same arithmetic in SQL and on the driver gives identical values. */
  private val Mask52 = (1L << 52) - 1
  private val Two52 = (1L << 52).toDouble

  def u(id: Column, seed: Long, salt: Int): Column =
    xxhash64(id, lit(seed), lit(salt)).bitwiseAND(lit(Mask52)).cast("double") / lit(Two52)

  def uLocal(id: Long, seed: Long, salt: Int): Double = {
    val h = XXH64.hashInt(salt, XXH64.hashLong(seed, XXH64.hashLong(id, Checks.HashSeed)))
    (h & Mask52).toDouble / Two52
  }
}

// ------------------------------------------------------------- pipeline

/** The flagship `GeoPipeline.run` over a seeded corpus that setup writes
  * as its `s1_pages` checkpoint. Each operation clears s2..s5 so the
  * pipeline recomputes them from s1, keeping its concurrent s3 ∥ s4→s5
  * shape. Its join refine is nearly idle (16 small stars, uniform points). */
final class PipelineWork(seed: Long, workDir: File, pages: Long) extends Workload {
  val name = "pipeline"
  def items: Long = pages
  private val Stages = Seq("s2_entities", "s3_pip_join", "s4_tiles", "s5_raster")
  private var root: String = _

  // seeded affine maps id -> coordinate, the shape WebCorpus.pages uses
  private val coef: Array[(Long, Long)] = {
    val r = new java.util.SplittableRandom(seed)
    Array.fill(4)((10007L + 2L * r.nextLong(50000000L), r.nextLong(1000000L)))
  }
  private def coordCol(i: Int, range: Long): Column =
    (pmod(col("id") * coef(i)._1 + coef(i)._2, lit(range)) - range / 2) / lit(1000.0)
  private def coordLocal(i: Int, range: Long, id: Long): Double =
    (Math.floorMod(id * coef(i)._1 + coef(i)._2, range) - range / 2) / 1000.0

  /** Pages with WebCorpus's schema and text template, coordinates from the seed. */
  private def corpus(spark: SparkSession): DataFrame = {
    val langs = array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh"))
    spark.range(0, pages, 1, spark.sparkContext.defaultParallelism * 4)
      .withColumn("url", concat(lit("https://host"), pmod(col("id") * 2654435761L, lit(997L)),
        lit(".example/page/"), col("id")))
      .withColumn("warc_ts", timestamp_seconds(lit(WebCorpus.Epoch) + pmod(col("id") * 7919L, lit(86400L * 365))))
      .withColumn("lang", langs(pmod(col("id") * 31L + seed, lit(5L)).cast("int")))
      .withColumn("text", concat(lit("Doc "), col("id"), lit(" in "), col("lang"),
        lit(" mentions geo:"), coordCol(0, 360000L), lit(","), coordCol(1, 170000L),
        lit(" and geo:"), coordCol(2, 360000L), lit(","), coordCol(3, 170000L), lit(" end.")))
      .withColumn("html", concat(lit("<html><head><title>"), col("id"),
        lit("</title></head><body><p>"), col("text"), lit("</p></body></html>")).cast("binary"))
      .select("url", "warc_ts", "html", "text", "lang", "id")
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    root = new File(workDir, s"rep$rep").getAbsolutePath
    new Checkpoint(spark, root).stage("s1_pages")(corpus(spark))
  }

  override def prepareOp(spark: SparkSession): Unit =
    Stages.foreach(s => org.apache.commons.io.FileUtils.deleteDirectory(new File(root, s)))

  def run(spark: SparkSession): AnyRef = GeoPipeline.run(spark, pages, root)

  def observe(spark: SparkSession, raw: AnyRef): Seq[Long] = {
    val r = raw.asInstanceOf[GeoPipeline.Result]
    val (s3n, s3c) = Checks.collect(Checks.reduce(
      spark.read.parquet(s"$root/s3_pip_join/data").select("id", "mention_idx", "poly_id")))
    val (s5n, s5c) = Checks.collect(Checks.reduce(
      spark.read.parquet(s"$root/s5_raster/data").select("cell", "n")))
    Seq(r.pages, r.points, r.tiles, r.joinRows, s3n, s3c, r.cells, s5n, s5c)
  }

  /** Stage counts from the generator (s2 = s4 = 2 × pages); s3 from a JTS
    * point-in-polygon oracle over the coordinates recomputed on the driver;
    * s5 from the driver-side cell of every point. */
  def expected(spark: SparkSession): Seq[Long] = {
    val stars = WebCorpus.adminPolygons(spark, 16).select(col("poly_id"), gf.st_aswkb(col("geom")))
      .collect().map(r => (r.getInt(0), new WKBReader().read(r.getAs[Array[Byte]](1))))
    val locators = stars.map { case (id, g) => (id, g.getEnvelopeInternal, new IndexedPointInAreaLocator(g)) }
    val n = 2 * pages.toInt
    val cells = new Array[Long](n)
    var s3n = 0L
    var s3c = 0L
    var id = 0L
    while (id < pages) {
      var m = 0
      while (m < 2) {
        val lon = coordLocal(2 * m, 360000L, id)
        val lat = coordLocal(2 * m + 1, 170000L, id)
        cells((2 * id + m).toInt) = graft.index.CellId.cellId(12, lon, lat)
        val c = new Coordinate(lon, lat)
        locators.foreach { case (pid, env, loc) =>
          if (env.contains(c) && loc.locate(c) == Location.INTERIOR) {
            s3n += 1; s3c += Checks.rowHash(id, m, pid)
          }
        }
        m += 1
      }
      id += 1
    }
    java.util.Arrays.sort(cells)
    var s5n = 0L
    var s5c = 0L
    var i = 0
    while (i < n) {
      var j = i
      while (j < n && cells(j) == cells(i)) j += 1
      s5n += 1; s5c += Checks.rowHash(cells(i), (j - i).toLong)
      i = j
    }
    Seq(pages, n, n, s3n, s3n, s3c, s5n, s5n, s5c)
  }

  override def describe: Seq[(String, String)] = Seq("pages" -> pages.toString)
}

// ------------------------------------------------------------- pip_join

/** A read-only SQL PIP join routed by SpatialJoinRule: seeded points,
  * most uniform over the globe and one in twenty clustered around a
  * polygon, against more polygons (128–1024 vertices) than GeomEval's
  * 64-slot decode cache holds, reduced to a pair count and an
  * order-independent checksum. The polygons are hinted as the broadcast
  * side, the shape of `broadcastPipJoin` and the flagship s3; without
  * the hint the planner broadcasts whichever side is smaller, and the
  * build side flips with the point count.
  *
  * The run is bounded by time, not work: a faster refine completes more
  * operations in the same seconds instead of shrinking the run. */
final class PipJoinWork(seed: Long, nproc: Int, nPoints: Long) extends Workload {
  import PipJoinWork.Level
  val name = "pip_join"
  private val NPolys = 640
  private val ClusteredFrac = 0.05
  private val PolygonSeed = 0x5EEDL
  private val ScalarRows = 50000L
  def items: Long = nPoints

  private val gf0 = new GeometryFactory()
  /** (centre lon, centre lat, radius, polygon) on a 32×20 grid, radii
    * 0.5–1°, vertex counts evenly spread over 128–1024. The polygons are
    * the same for every seed and the seed draws the points: which
    * polygons share a decode-cache slot depends on their bytes, and a
    * per-seed polygon set moved the refine cost by ±15% between seeds. */
  private val polys: IndexedSeq[(Double, Double, Double, Polygon)] = {
    val r = new java.util.SplittableRandom(PolygonSeed)
    (0 until NPolys).map { k =>
      val cx = -100.0 + 6.25 * (k % 32) + 3.125
      val cy = -50.0 + 5.0 * (k / 32) + 2.5
      val rad = 0.5 + 0.5 * (k * 37 % NPolys).toDouble / (NPolys - 1)
      val v = 128 + 896 * (k * 53 % NPolys) / (NPolys - 1)
      val ring = (0 until v).map { j =>
        val a = 2 * Math.PI * j / v
        val rr = rad * (0.55 + 0.45 * r.nextDouble())
        new Coordinate(cx + rr * Math.cos(a), cy + rr * Math.sin(a))
      }
      (cx, cy, rad, gf0.createPolygon((ring :+ ring.head).toArray))
    }
  }

  /** Point `id`: uniform over the globe (lat ±85), or (one in twenty)
    * near a polygon centre with a triangular spread of ± its radius. */
  private def pointsDf(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val k = (pmod(xxhash64(id, lit(seed), lit(3)), lit(NPolys.toLong)) + 1).cast("int")
    val cx = element_at(array(polys.map(p => lit(p._1)): _*), k)
    val cy = element_at(array(polys.map(p => lit(p._2)): _*), k)
    val rad = element_at(array(polys.map(p => lit(p._3)): _*), k)
    val (u0, u1, u2, u4, u5) = (Seeded.u(id, seed, 0), Seeded.u(id, seed, 1),
      Seeded.u(id, seed, 2), Seeded.u(id, seed, 4), Seeded.u(id, seed, 5))
    spark.range(0, n, 1, nproc * 4).select(id,
      when(u0 >= ClusteredFrac, lit(-180.0) + lit(360.0) * u1).otherwise(cx + (u1 + u2 - lit(1.0)) * rad).as("lon"),
      when(u0 >= ClusteredFrac, lit(-85.0) + lit(170.0) * u2).otherwise(cy + (u4 + u5 - lit(1.0)) * rad).as("lat"))
  }

  private def pointLocal(id: Long): (Double, Double) = {
    val h3 = XXH64.hashInt(3, XXH64.hashLong(seed, XXH64.hashLong(id, Checks.HashSeed)))
    val p = polys(Math.floorMod(h3, NPolys.toLong).toInt)
    val u0 = Seeded.uLocal(id, seed, 0)
    val u1 = Seeded.uLocal(id, seed, 1)
    val u2 = Seeded.uLocal(id, seed, 2)
    if (u0 >= ClusteredFrac) (-180.0 + 360.0 * u1, -85.0 + 170.0 * u2)
    else (p._1 + (u1 + u2 - 1.0) * p._3,
      p._2 + (Seeded.uLocal(id, seed, 4) + Seeded.uLocal(id, seed, 5) - 1.0) * p._3)
  }

  private val JoinSql = "SELECT /*+ BROADCAST(g) */ p.id, g.poly_id FROM pts p JOIN polys g " +
    "ON st_contains_xy(g.geom, p.lon, p.lat)"

  def setup(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    val w = new WKBWriter()
    val polysDf = polys.zipWithIndex.map { case (p, i) => (i, w.write(p._4)) }.toDF("poly_id", "wkb")
      .select(col("poly_id"), gf.st_geomfromwkb(col("wkb")).as("geom")).cache()
    polysDf.count()
    polysDf.createOrReplaceTempView("polys")
    val pts = pointsDf(spark, nPoints).cache()
    pts.count()
    pts.createOrReplaceTempView("pts")
  }

  def run(spark: SparkSession): AnyRef = Checks.collect(Checks.reduce(spark.sql(JoinSql)))

  def observe(spark: SparkSession, raw: AnyRef): Seq[Long] = {
    val (n, c) = raw.asInstanceOf[(Long, Long)]
    Seq(n, c)
  }

  /** JTS oracle: every (point, polygon) pair with the point in the polygon's interior. */
  def expected(spark: SparkSession): Seq[Long] = {
    val tree = new STRtree()
    polys.zipWithIndex.foreach { case (p, i) =>
      tree.insert(p._4.getEnvelopeInternal, (i, new IndexedPointInAreaLocator(p._4)))
    }
    var n = 0L
    var c = 0L
    var id = 0L
    while (id < nPoints) {
      val (x, y) = pointLocal(id)
      val coord = new Coordinate(x, y)
      val it = tree.query(new Envelope(coord)).iterator()
      while (it.hasNext) {
        val (pid, loc) = it.next().asInstanceOf[(Int, IndexedPointInAreaLocator)]
        if (loc.locate(coord) == Location.INTERIOR) {
          n += 1; c += Checks.rowHash(id, pid)
        }
      }
      id += 1
    }
    Seq(n, c)
  }

  override def timedQueries(spark: SparkSession): Seq[(String, DataFrame, DataFrame)] = {
    val df = spark.sql(JoinSql)
    Seq(("pip_join", df, Checks.reduce(df)))
  }

  override def layers(ctx: LayerCtx): Seq[(String, Double)] = {
    val spark = ctx.spark
    // the benchmark's own cell equi-join at the rule's level
    val cand = spark.sql(
      s"""SELECT p.id, p.lon, p.lat, c.poly_id, c.cell FROM
         |  (SELECT id, lon, lat, st_cellid($Level, lon, lat) AS cell FROM pts) p
         |JOIN (SELECT poly_id, explode(st_covering($Level, geom)) AS cell FROM polys) c
         |ON p.cell = c.cell""".stripMargin).cache()
    val (nCand, _, _) = ctx.probe("operators.candidates")(cand.count())
    cand.createOrReplaceTempView("cand")
    val interior = spark.sql(
      s"""SELECT count(*) FROM cand k JOIN
         |  (SELECT poly_id, cell FROM (SELECT poly_id, geom, explode(st_covering($Level, geom)) AS cell FROM polys)
         |   WHERE st_contains(geom, st_cell_bounds(cell))) i
         |ON k.poly_id = i.poly_id AND k.cell = i.cell""".stripMargin).collect().head.getLong(0)
    def refine(order: String) = ctx.probe(s"kernels.pip.$order") {
      spark.sql("SELECT sum(CAST(st_contains_xy(g.geom, k.lon, k.lat) AS INT)) FROM " +
        (if (order == "sorted") "cand_sorted" else "cand") +
        " k JOIN polys g ON k.poly_id = g.poly_id").collect().head.getLong(0)
    }
    spark.table("cand").sortWithinPartitions("poly_id").cache().createOrReplaceTempView("cand_sorted")
    spark.table("cand_sorted").count()
    val (hits, _, cpuArrival) = refine("arrival")
    val (_, _, cpuSorted) = refine("sorted")
    val (nCov, covWall, _) = ctx.probe("index.covering") {
      spark.sql(s"SELECT sum(size(st_covering($Level, geom))) FROM polys").collect().head.getLong(0)
    }
    // st_cellid per point, net of generating the coordinates it reads
    val nCell = 4L << 20
    def cellCpu(cellOf: (Column, Column) => Column) = ctx.probe("index.cellid") {
      val u1 = Seeded.u(col("id"), seed, 1)
      val u2 = Seeded.u(col("id"), seed, 2)
      spark.range(0, nCell, 1, ctx.nproc * 4)
        .select(sum(cellOf(u1 * 360.0 - 180.0, u2 * 180.0 - 90.0).bitwiseAND(lit(Checks.Mask))))
        .collect()
    }._3
    val withCell = cellCpu((lon, lat) => gf.st_cellid(lit(Level), lon, lat))
    val baseline = cellCpu((lon, lat) => (lon + lat).cast("long"))
    spark.catalog.dropTempView("cand_sorted")
    spark.catalog.dropTempView("cand")
    cand.unpersist(blocking = true)
    new ScalarMix(seed, ctx.nproc, ScalarRows).layers(ctx) ++ Seq(
      "operators.pip_join.candidate_pairs" -> nCand.toDouble,
      "operators.pip_join.hit_pairs" -> hits.toDouble,
      "operators.pip_join.interior_pairs" -> interior.toDouble,
      "kernels.pip_us_per_pair" -> cpuArrival / 1e3 / math.max(1L, nCand),
      "kernels.pip_us_per_pair_sorted" -> cpuSorted / 1e3 / math.max(1L, nCand),
      "index.covering_s" -> covWall,
      "index.cells_per_poly" -> nCov.toDouble / NPolys,
      "index.cellid_ns_per_point" -> (withCell - baseline).toDouble / nCell)
  }

  override def describe: Seq[(String, String)] =
    Seq("points" -> nPoints.toString, "polygons" -> NPolys.toString,
      "vertices" -> polys.map(_._4.getNumPoints - 1).sum.toString)
}

object PipJoinWork {
  /** The cell level SpatialJoinRule is registered with. */
  final val Level = 6
}

// ------------------------------------------------------------ st_scalar

/** A fixed mix of scalar st_* functions as SQL text over a cached table
  * of seeded WKB geometries (points, line strings, star polygons). The
  * `pip_join` traced run probes it for the `sql` and `core` layers. */
final class ScalarMix(seed: Long, nproc: Int, rows: Long) {

  /** (name, SQL over a decoded geometry `g`), in output-column order. */
  private val Mix: Seq[(String, String)] = Seq(
    "area" -> "st_area(g)",
    "perimeter" -> "st_perimeter(g)",
    "npoints" -> "st_npoints(g)",
    "centroid" -> "st_centroid(g)",
    "envelope" -> "st_envelope(g)",
    "astext" -> "st_astext(g)",
    "aswkb" -> "st_aswkb(g)",
    "isvalid" -> "st_isvalid(g)",
    "simplify" -> "st_simplify(g, 0.01)",
    "convexhull" -> "st_convexhull(g)",
    "distance" -> "st_distance(g, st_point(0.0, 0.0))",
    "cellid" -> "st_cellid(12, st_xmin(g), st_ymin(g))")

  private def sql(exprs: Seq[(String, String)]): String =
    exprs.map { case (n, e) => s"$e AS $n" }.mkString("SELECT id, ", ", ",
      " FROM (SELECT id, st_geomfromwkb(wkb) AS g FROM geoms)")

  /** Per-layer metrics, and the checks the mix makes on the way: its
    * reduction keeps every graft expression, and its checksum matches
    * the same query with code generation off (every expression's
    * interpreted path, which shares no generated code). */
  def layers(ctx: LayerCtx): Seq[(String, Double)] = {
    val spark = ctx.spark
    import spark.implicits._
    val s = seed
    val geoms = spark.range(0, rows, 1, nproc * 4).map(id => (id, ScalarMix.wkb(s, id)))
      .toDF("id", "wkb").cache()
    geoms.count()
    geoms.createOrReplaceTempView("geoms")

    val mix = spark.sql(sql(Mix))
    val lost = Checks.lostExprs(mix, Checks.reduce(mix))
    ctx.check("st_scalar mix reduction", lost.isEmpty, s"lost ${lost.mkString(",")}")
    val codegen = Checks.collect(Checks.reduce(mix))
    val interpreted = withoutCodegen(spark)(Checks.collect(Checks.reduce(spark.sql(sql(Mix)))))
    ctx.check("st_scalar mix interpreted", codegen == interpreted, s"$codegen vs $interpreted")

    def nsPerRow(label: String, q: String): Double = {
      val (_, _, cpu) = ctx.probe(label)(Checks.collect(Checks.reduce(spark.sql(q))))
      cpu.toDouble / rows
    }
    val perFn = Mix.map { case (n, e) => s"sql.$n.ns_per_row" -> nsPerRow(s"sql.$n", sql(Seq(n -> e))) }
    val decode = nsPerRow("core.wkb_decode", "SELECT st_geomfromwkb(wkb) AS g FROM geoms")
    val astext = nsPerRow("core.wkt_encode", "SELECT st_astext(st_geomfromwkb(wkb)) AS t FROM geoms")
    spark.catalog.dropTempView("geoms")
    geoms.unpersist(blocking = true)
    perFn ++ Seq(
      "core.wkb_decode_ns_per_geom" -> decode,
      "core.wkt_encode_ns_per_geom" -> (astext - decode))
  }

  private def withoutCodegen[T](spark: SparkSession)(body: => T): T = {
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object ScalarMix {
  private val Factory = new GeometryFactory()

  /** Row `id` of the seeded table as little-endian WKB: 20% points, 40%
    * random-walk line strings and 40% star polygons of 8–64 vertices. */
  def wkb(seed: Long, id: Long): Array[Byte] = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id)
    val cx = -170.0 + 340.0 * r.nextDouble()
    val cy = -80.0 + 160.0 * r.nextDouble()
    val size = 0.01 + r.nextDouble()
    val kind = r.nextInt(10)
    val v = 8 + r.nextInt(57)
    val g =
      if (kind < 2) Factory.createPoint(new Coordinate(cx, cy))
      else if (kind < 6) {
        var x = cx
        var y = cy
        Factory.createLineString(Array.fill(v) {
          x += (r.nextDouble() - 0.5) * size; y += (r.nextDouble() - 0.5) * size
          new Coordinate(x, y)
        })
      } else {
        val ring = (0 until v).map { j =>
          val a = 2 * Math.PI * j / v
          val rr = size * (0.5 + 0.5 * r.nextDouble())
          new Coordinate(cx + rr * Math.cos(a), cy + rr * Math.sin(a))
        }
        Factory.createPolygon((ring :+ ring.head).toArray)
      }
    new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN).write(g)
  }
}
