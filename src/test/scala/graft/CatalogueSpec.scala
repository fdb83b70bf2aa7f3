package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.core.{Wkb, Wkt}
import graft.sql.{Catalogue, GeomCall, GeomSchema}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The st_* catalogue: every entry's interpreted path equals its
  * generated code, every way of building a session exposes the same
  * functions, and argument counts are checked at analysis. */
class CatalogueSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Entries that are not one GeomCall: an aggregate and two SQL macros
    * over built-in expressions. */
  private val notCalls = Set("st_asmvt", "st_redact_pii", "st_host")

  /** Max segment lengths in meters: small values would densify the
    * degree-sized test geometries into millions of vertices. */
  private val meterLengths = Set("st_densify_haversine", "st_densify_rhumb", "st_densify_geodesic")

  private val geoms: Seq[Any] = Seq("POINT(1 2)", "LINESTRING(0 0,3 4,6 0)",
    "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,4 2,4 4,2 4,2 2))", "POINT EMPTY")
    .map(w => GeomSchema.toRow(Wkt.read(w)))

  /** Values for one parameter of `name`, with their SQL type. With
    * `widen`, an int stands where a double or long is taken. */
  private def values(c: Class[_], name: String, widen: Boolean): Seq[(Any, DataType)] = {
    def one(v: Any, t: DataType) = Seq(v -> t)
    if (c == classOf[Double]) {
      if (meterLengths(name)) (if (widen) one(100000, IntegerType) else one(1e5, DoubleType))
      else if (widen) one(1, IntegerType) else one(0.5, DoubleType)
    } else if (c == classOf[Long]) (if (widen) one(3, IntegerType) else one(5L, LongType))
    else if (c == classOf[Int]) one(3, IntegerType)
    else if (c == classOf[Boolean]) one(true, BooleanType)
    else if (c == classOf[UTF8String])
      Seq("LINESTRING(0 0,3 4)", "u4pruy").map(s => UTF8String.fromString(s) -> StringType)
    else if (c == classOf[Array[Byte]])
      Seq(Wkb.write(Wkt.read("POINT(1 2)")), Array[Byte](1, 2, 3)).map(_ -> BinaryType)
    else if (c == classOf[ArrayData]) {
      if (name.contains("cell")) one(new GenericArrayData(Array(
        index.CellId.cellId(5, 1.0, 2.0), index.CellId.cellId(5, 1.5, 2.5))),
        ArrayType(LongType, containsNull = false))
      else one(new GenericArrayData(geoms.toArray), ArrayType(GeomSchema.dataType, containsNull = false))
    } else geoms.map(_ -> GeomSchema.dataType)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Every input row's result of `e` under one projection factory
    * mode: the result row's bytes, or the exception's class. */
  private def evalRows(e: Expression, rows: Seq[InternalRow], mode: String): Seq[Any] =
    withConf("spark.sql.codegen.factoryMode" -> mode) {
      Try(UnsafeProjection.create(Seq(e))).fold(
        err => rows.map(_ => err.getClass.getName),
        proj => rows.map(r => Try(proj(r).copy()).fold(_.getClass.getName, identity)))
    }

  test("interpreted eval equals generated code for every catalogue entry") {
    val analyzer = spark.sessionState.analyzer
    var checked = 0
    for (fn <- Catalogue.all if !notCalls(fn.name); n <- fn.arities) {
      val probe = fn(Seq.fill(n)(Literal(null)))
      assert(probe.isInstanceOf[GeomCall], s"${fn.name}/$n builds $probe")
      val params = probe.asInstanceOf[GeomCall].parameterTypes.take(n)
      for (widen <- Seq(false, true)
          if !widen || params.exists(c => c == classOf[Double] || c == classOf[Long])) {
        val choices = params.map(values(_, fn.name, widen))
        val attrs = choices.zipWithIndex.map { case (vs, i) =>
          AttributeReference(s"a$i", vs.head._2, nullable = false)() }
        val plan = Project(Seq(Alias(fn(attrs), "r")()), LocalRelation(attrs))
        val analyzed = analyzer.executeAndCheck(plan, new QueryPlanningTracker)
        val expr = BindReferences.bindReference(
          analyzed.asInstanceOf[Project].projectList.head.asInstanceOf[Alias].child, attrs)
        val inputs = choices.foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
          for (prefix <- acc; (v, _) <- vs) yield prefix :+ v }
          .map(vs => InternalRow.fromSeq(vs))
        val interpreted = evalRows(expr, inputs, "NO_CODEGEN")
        val generated = evalRows(expr, inputs, "CODEGEN_ONLY")
        inputs.indices.foreach { i =>
          assert(interpreted(i) == generated(i),
            s"${fn.name}/$n${if (widen) " (int args)" else ""} row $i: " +
              s"interpreted ${interpreted(i)} vs generated ${generated(i)}")
        }
        checked += 1
      }
    }
    assert(checked > Catalogue.all.size) // every entry, most with an int-argument variant
  }

  test("a call outside an entry's argument counts is an analysis error naming them") {
    for ((q, want) <- Seq(
        "SELECT st_area(st_point(1.0, 2.0), 5)" -> Seq("st_area", "1", "2"),
        "SELECT st_point(1.0)" -> Seq("st_point", "2", "1"),
        "SELECT st_voronoi(st_point(1.0, 2.0), 0.0)" -> Seq("st_voronoi", "[1, 5]", "2"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getCondition.startsWith("WRONG_NUM_ARGS"), s"$q: ${e.getMessage}")
      want.foreach(w => assert(e.getMessage.contains(w), s"$q: ${e.getMessage}"))
    }
  }

  test("a spark.sql.extensions session exposes the same functions as register()") {
    // the extensions session needs its own JVM: an existing SparkContext
    // ignores spark.sql.extensions for every later session
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val err = Files.createTempFile("extensions-session", ".log")
    val proc = new ProcessBuilder((Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString)
      ++ jvmArgs ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.ExtensionsSessionMain")).asJava)
      .redirectError(err.toFile).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    val finished = proc.waitFor(300, TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly()
    def stderr = Files.readAllLines(err).asScala.takeRight(30).mkString("\n")
    assert(finished && proc.exitValue() == 0, s"extensions session failed:\n$stderr")
    Files.deleteIfExists(err)

    val reference = spark.newSession()
    graft.sql.functions.register(reference)
    graft.sql.functions.registerOptimizations(reference)
    val want = ExtensionsSessionMain.report(reference)
    assert(out.exists(_.startsWith("names ")), out.mkString("\n"))
    assert(out == want, s"\nextensions: ${out.mkString("\n")}\nregister(): ${want.mkString("\n")}")
    val names = out.head.stripPrefix("names ").split(",").toSet
    assert(Catalogue.all.flatMap(_.names).forall(names), "a catalogue name is missing")
    assert(out.contains("join rewritten true"))
  }
}

/** A session built with only `spark.sql.extensions=graft.sql.GraftExtensions`
  * (no `register()`), printing [[report]] for [[CatalogueSpec]]. */
object ExtensionsSessionMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    report(spark).foreach(println)
    spark.stop()
  }

  private val queries = Seq(
    // literal folding and VALUES inputs run the interpreted path
    "buffer" -> "SELECT st_astext(st_buffer(st_geomfromtext('POINT(1 2)'), 1))",
    "buffer values" -> ("SELECT round(st_area(st_buffer(st_geomfromtext(w), d)), 9) " +
      "FROM VALUES ('POLYGON((0 0,4 0,4 4,0 4,0 0))', 1), ('LINESTRING(0 0,5 0)', 2) AS t(w, d)"),
    "buffer style" ->
      "SELECT st_astext(st_buffer(st_geomfromtext('LINESTRING(0 0,4 0)'), 1, 'endcap=flat'))",
    "asewkb" -> "SELECT hex(st_asewkb(st_geomfromtext('POINT(1 2)'), 4326))",
    "join" -> ("SELECT p.id, g.id FROM VALUES (1, 0.5D, 0.5D), (2, 5D, 5D), (3, 1.5D, 0.2D) " +
      "AS p(id, lon, lat) JOIN (SELECT id, st_geomfromtext(w) AS geom FROM VALUES " +
      "(7, 'POLYGON((0 0,2 0,2 2,0 2,0 0))') AS t(id, w)) g " +
      "ON st_contains_xy(g.geom, p.lon, p.lat) ORDER BY p.id"))

  /** The session's st_* names, a few query results, whether the join
    * was rewritten to cells, and the arity errors. */
  def report(spark: SparkSession): Seq[String] = {
    val names = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("st_")).distinct.sorted
    val rows = queries.map { case (k, q) =>
      s"rows $k " + spark.sql(q).collect().map(_.toString).mkString(";") }
    val rewritten = spark.sql(queries.last._2).queryExecution.optimizedPlan
      .toString.contains("__graft_cell")
    val errors = Seq("SELECT st_area(st_point(1.0, 2.0), 5)", "SELECT st_point(1.0)").map { q =>
      "error " + Try(spark.sql(q).collect()).failed.map(_.getClass.getSimpleName).getOrElse("none") }
    Seq("names " + names.mkString(",")) ++ rows ++ Seq(s"join rewritten $rewritten") ++ errors
  }
}
