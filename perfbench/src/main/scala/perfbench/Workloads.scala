package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftConfig, Main}
import graft.operators.{Dbscan, GeoPipeline, KnnJoin, SpatialJoin, Tiler}
import graft.plans.Lineage
import graft.sources.{PolyRegistry, SynthPages}

/** One call of a rep, with what it produced. */
final case class Call(name: String, secs: Double, rows: Long = 0L, bytes: Long = 0L)

/** The single closed-loop client: one call at a time from the main
  * thread, each waited for before the next is sent.
  */
final class Client {
  var attempted = 0
  var failed = 0

  def call[A](name: String)(body: => A): (A, Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] call $name failed: $e")
        throw e
    }
  }
}

abstract class Workload(val spark: SparkSession, val work: String,
                        val seed: Long, val client: Client) {
  /** Reps run in set-up before measuring; a fresh JVM runs the first
    * reps slower while it compiles the hot code.
    */
  def warmReps: Int = 1
  /** Builds the workload's inputs from the seed (part of set-up). */
  def prepare(): Unit
  /** One rep: the workload's calls in their fixed order. */
  def rep(): Seq[Call]
  /** The traced rep: the same calls split at layer boundaries. */
  def traced(t: Tracer): Unit
  /** Output checks on the last rep (and the traced rep, if one ran);
    * returns the failed checks.
    */
  def check(): Seq[String]
  /** The workload's named end-to-end figures over the given reps. */
  def named(reps: Seq[Seq[Call]]): Seq[(String, Double, String)]

  protected var generation = 0

  protected def fresh(prefix: String): String = {
    generation += 1
    s"$work/$prefix-$generation"
  }
}

object Workload {
  val Names = Seq("tile_builds", "spatial_queries")

  def apply(name: String, spark: SparkSession, work: String, seed: Long,
            client: Client): Workload = name match {
    case "tile_builds" => new TileBuilds(spark, work, seed, client)
    case "spatial_queries" => new SpatialQueries(spark, work, seed, client)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val paths = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try paths.forEach(q => Files.delete(q)) finally paths.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val paths = Files.walk(src)
    try paths.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally paths.close()
  }

  /** `row_count` as written in a committed snapshot's manifest. */
  def manifestRows(root: String, snap: Long): Long = {
    val txt = Files.readString(Paths.get(root, "manifests", s"snap-$snap.json"))
    """"row_count":\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)
      .getOrElse(-1L)
  }

  val Mb = 1048576.0
}

/** Both tile builds of the engine in one rep, each through
  * `Main.tilesFor` + `Lineage.commit`:
  *  1. `build`: a pyramid build (zooms 0-14, cap 4096) of the stored
  *     page table into an empty root. The zoom fan-out and the hot
  *     low-zoom tiles make tile assignment, the tile-keyed shuffle and
  *     the MVT encode do most of the work.
  *  2. `resume`: a `--resume` rebuild (zooms 4,8,12) of the same table
  *     into a copy of a root committed from its first `BasePages` pages.
  *     Geoparse and PIP rerun over every page and the resume filter reads
  *     the committed table, but only the new tiles (about 5%) are encoded
  *     and written.
  */
final class TileBuilds(spark: SparkSession, work: String, seed: Long, client: Client)
    extends Workload(spark, work, seed, client) {
  val BasePages = 10000L
  val AllPages: Long = BasePages + BasePages / 10
  val BuildZooms: Seq[Int] = 0 to 14
  val ResumeZooms = Seq(4, 8, 12)
  val Cap = 4096
  /** The second rep still ran 20-40% slower than the fourth to sixth. */
  override def warmReps = 2

  private var pagesPath: String = _
  private var baseRoot: String = _
  /** (root, snapshot) of the last rep's build and resume. */
  private var last: Option[((String, Lineage.Snapshot), (String, Lineage.Snapshot))] = None
  private var tracedSnaps: Option[(Lineage.Snapshot, Lineage.Snapshot)] = None

  private def cfg(root: String, zooms: Seq[Int]) =
    GraftConfig(outDir = root, nPages = AllPages, zooms = zooms, tileCap = Cap, seed = seed)

  def prepare(): Unit = {
    Option(pagesPath).foreach(Workload.deleteTree)
    Option(baseRoot).foreach(Workload.deleteTree)
    pagesPath = fresh("pages")
    SynthPages.pagesDF(spark, AllPages, seed).write.parquet(pagesPath)
    baseRoot = fresh("base")
    Lineage.commit(Main.tilesFor(spark, basePages, cfg(baseRoot, ResumeZooms), None),
      baseRoot, "perfbench resume base")
  }

  /** The first BasePages page ids; urls zero-pad the id, so they sort in
    * id order.
    */
  private def basePages: DataFrame = spark.read.parquet(pagesPath)
    .filter(col("url") < SynthPages.genPage(seed, BasePages).url)

  def rep(): Seq[Call] = {
    last.foreach { case ((b, _), (r, _)) => Workload.deleteTree(b); Workload.deleteTree(r) }
    last = None
    val buildRoot = fresh("build")
    val (built, buildS) = client.call("build") {
      Lineage.commit(
        Main.tilesFor(spark, spark.read.parquet(pagesPath), cfg(buildRoot, BuildZooms), None),
        buildRoot, "perfbench build")
    }
    val resumeRoot = fresh("resume")
    Workload.copyTree(baseRoot, resumeRoot)
    val (resumed, resumeS) = client.call("resume") {
      Lineage.commit(
        Main.tilesFor(spark, spark.read.parquet(pagesPath), cfg(resumeRoot, ResumeZooms),
          resumeRoot = Some(resumeRoot)),
        resumeRoot, "perfbench resume")
    }
    last = Some(((buildRoot, built), (resumeRoot, resumed)))
    Seq(Call("build", buildS, built.rows, built.bytes),
      Call("resume", resumeS, resumed.rows, resumed.bytes))
  }

  def traced(t: Tracer): Unit = {
    val buildRoot = fresh("traced-build")
    val built = tracedBuild(t, cfg(buildRoot, BuildZooms), resume = false)
    val resumeRoot = fresh("traced-resume")
    Workload.copyTree(baseRoot, resumeRoot)
    tracedSnaps = Some((built, tracedBuild(t, cfg(resumeRoot, ResumeZooms), resume = true)))
  }

  /** One build split at its layer boundaries: page scan → geoparse →
    * cell expressions → PIP tag → zoom assign → (resume filter) → encode
    * → commit. It calls the public entry points that `Main.tilesFor`
    * composes, with the same arguments.
    */
  private def tracedBuild(t: Tracer, cfg: GraftConfig, resume: Boolean): Lineage.Snapshot = {
    val geo = graft.functions.geo
    // the pipeline reads only these page columns; the scan layer stores
    // just them, as the fused plan's column pruning does
    val (pages, nPages) = t.layer("sources.scan", None)(
      spark.read.parquet(pagesPath).select("url", "text"))
    val (mentions, _) = t.layer("functions.geoparse", Some(pages),
      (out, _) => Map("functions.geoparse.pages_hit_ratio" ->
        (out.select("url").distinct().count().toDouble, nPages.toDouble)))(
      GeoPipeline.pagesToMentions(pages))
    val (celled, _) = t.layer("functions.cells", Some(mentions))(
      mentions
        .withColumn("s2_cell", geo.s2_cell(col("lat"), col("lon"), lit(cfg.s2Level)))
        .withColumn("hex_cell", geo.hex_cell(col("lon"), col("lat"), lit(cfg.hexRes)))
        .withColumn("tile_z12", geo.tile_id(col("lon"), col("lat"), lit(12))))
    val (features, _) = t.layer("operators.pip", Some(celled),
      (out, rows) => Map("operators.pip.match_ratio" ->
        (out.filter(col("admin_id").isNotNull).count().toDouble, rows.toDouble)))(
      SpatialJoin.pipJoinLeftRtree(celled, level = Some(2))
        .filter(col("lat").isNotNull && col("lon").isNotNull))
    val (zoomed, assigned) = t.layer("operators.assign", Some(features))(
      Tiler.assignTiles(features, cfg.zooms))
    val (pending, encodeIn) =
      if (!resume) (zoomed, assigned)
      else t.layer("plans.resume_filter", Some(zoomed),
        (_, rows) => Map("plans.resume_filter.pending_ratio" ->
          (rows.toDouble, assigned.toDouble)))(
        Lineage.pendingOnly(zoomed, cfg.outDir))
    val (tiles, _) = t.layer("operators.encode", Some(pending),
      (out, _) => Map("operators.encode.kept_ratio" ->
        (out.agg(sum("n_features")).head().getLong(0).toDouble, encodeIn.toDouble)))(
      Tiler.tilesWithStats(Tiler.encodeTiles(pending, cfg.tileCap)))
    var snap: Lineage.Snapshot = null
    t.terminal("plans.commit", Some(tiles)) {
      snap = Lineage.commit(tiles, cfg.outDir, "perfbench traced build")
      (snap.rows, Map("plans.commit.data_mb" -> (snap.bytes / Workload.Mb, 0.0)))
    }
    t.release()
    snap
  }

  def check(): Seq[String] = {
    val ((buildRoot, built), (resumeRoot, resumed)) =
      last.getOrElse(return Seq("no successful rep to check"))
    val pages = spark.read.parquet(pagesPath)
    def snapshot(root: String, s: Lineage.Snapshot) =
      spark.read.parquet(s"$root/data/snap-${s.id}")
    def manifestCheck(root: String, s: Lineage.Snapshot): (Boolean, String) = {
      val rows = snapshot(root, s).count()
      val recorded = Workload.manifestRows(root, s.id)
      (recorded == rows && s.rows == rows) ->
        s"$root: manifest row_count $recorded, snapshot ${s.rows}, committed rows $rows"
    }
    // build: n_features = min(cap, an independent per-tile count)
    val features = GeoPipeline.pagesToFeatures(spark, pages)
      .filter(col("lat").isNotNull && col("lon").isNotNull)
    val assigned = Tiler.assignTiles(features, BuildZooms)
      .groupBy("zoom", "tile_id").count()
    val mismatched = snapshot(buildRoot, built).select("tile_id", "n_features")
      .join(assigned, Seq("tile_id"), "full_outer")
      .filter(col("n_features").isNull || col("count").isNull ||
        col("n_features") =!= least(col("count"), lit(Cap.toLong)))
      .count()
    // resume: base ∪ resume tile_ids = a full build's, each exactly once
    val ids = Lineage.committedSnapshots(resumeRoot)
      .map(id => spark.read.parquet(s"$resumeRoot/data/snap-$id").select("tile_id"))
      .reduce(_ union _)
    val full = Main.tilesFor(spark, pages, cfg(resumeRoot, ResumeZooms), None)
      .select("tile_id").localCheckpoint()
    val total = ids.count()
    val distinct = ids.distinct().count()
    val missing = full.except(ids).count()
    val extra = ids.except(full).count()
    Seq(
      (mismatched == 0) -> s"$mismatched tiles whose n_features != min(cap, assigned count)",
      manifestCheck(buildRoot, built),
      manifestCheck(resumeRoot, resumed),
      (total == distinct) -> s"${total - distinct} tile_ids committed twice",
      (missing == 0) -> s"$missing tile_ids of a full build missing after resume",
      (extra == 0) -> s"$extra committed tile_ids not in a full build",
      (resumed.rows > 0) -> "resume committed no tiles",
      tracedSnaps.forall { case (b, r) =>
        b.rows == built.rows && b.bytes == built.bytes &&
          r.rows == resumed.rows && r.bytes == resumed.bytes
      } -> (s"traced builds committed ${tracedSnaps.map { case (b, r) => (b.rows, b.bytes, r.rows, r.bytes) }}, " +
        s"fused ${(built.rows, built.bytes, resumed.rows, resumed.bytes)}")
    ).collect { case (false, msg) => msg }
  }

  def named(reps: Seq[Seq[Call]]): Seq[(String, Double, String)] = {
    val calls = reps.flatten
    val builds = calls.filter(_.name == "build")
    Seq(
      ("tiles_per_s", Workload.median(builds.map(c => c.rows / c.secs)), "1/s"),
      ("committed_mb", Workload.median(builds.map(_.bytes / Workload.Mb)), "MB"),
      ("resume_s", Workload.median(calls.filter(_.name == "resume").map(_.secs)), "s"))
  }
}

/** Point queries over geoparsed feature points, which cluster around
  * gazetteer cities: zonal statistics, kNN (half the queries near
  * cities, half in the sparse space around them, so both the dense and
  * the ring-doubling sparse path run) and DBSCAN. No tile or lineage
  * code runs here.
  */
final class SpatialQueries(spark: SparkSession, work: String, seed: Long, client: Client)
    extends Workload(spark, work, seed, client) {
  val Pages = 12000L
  val Queries = 20
  val K = 5
  val DbscanEvery = 8
  val EpsDeg = 0.1
  val MinPts = 5
  val DbscanRes = 4
  val CheckZones = 12
  /** Half-width, in degrees, of the square around a city that a sparse
    * query is drawn from; the points lie within 2 degrees of a city.
    */
  val SparseReach = 5.0

  private var pointsPath: String = _
  private var lastZonal: Array[Row] = Array.empty
  private var lastKnn: Array[Row] = Array.empty
  private var lastDbscan: Array[Row] = Array.empty

  /** (q_id, q_lon, q_lat): the first half jittered within 1.5 degrees of
    * cities picked with the generator's own city skew (dense: the first
    * probe finds k points), the second half uniform in a square of
    * +-`SparseReach` degrees around a city picked uniformly, mostly
    * outside the points' 4-degree boxes (sparse: the probe finds too
    * few and the rings double). The first sparse query is pinned 6
    * degrees south of Honolulu, 4 degrees from its box and farther from
    * every other city, which takes three ring doublings at hex res 4; no
    * other sparse query needs more, so every seed runs the same three.
    * (Queries uniform over the whole map needed six to eight doublings,
    * varying by seed, and made kNN most of the workload's time.)
    */
  val queryPoints: Seq[(Long, Double, Double)] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val cities = graft.core.Gazetteer.entries
    (0 until Queries).map { i =>
      if (i < Queries / 2) {
        val u = rnd.nextDouble()
        val (_, lat, lon) = cities(((u * u) * cities.length).toInt.min(cities.length - 1))
        (i.toLong, lon + (rnd.nextDouble() - 0.5) * 3.0, lat + (rnd.nextDouble() - 0.5) * 3.0)
      } else if (i == Queries / 2) {
        val (lat, lon) = graft.core.Gazetteer.byName("honolulu")
        (i.toLong, lon, lat - 6.0)
      } else {
        val (_, lat, lon) = cities(rnd.nextInt(cities.length))
        val qlon = lon + (rnd.nextDouble() * 2.0 - 1.0) * SparseReach
        (i.toLong, qlon.max(-180.0).min(180.0), lat + (rnd.nextDouble() * 2.0 - 1.0) * SparseReach)
      }
    }
  }

  private def queries: DataFrame = {
    import spark.implicits._
    queryPoints.toDF("q_id", "q_lon", "q_lat")
  }

  private def points: DataFrame = spark.read.parquet(pointsPath)
  private def zonalInput(p: DataFrame) = p.withColumn("v", pmod(col("p_id"), lit(97L)))
  private def dbscanInput(p: DataFrame) =
    p.filter(pmod(col("p_id"), lit(DbscanEvery.toLong)) === 0)

  def prepare(): Unit = {
    Option(pointsPath).foreach(Workload.deleteTree)
    pointsPath = fresh("points")
    val pages = SynthPages.pagesDF(spark, Pages, seed)
    GeoPipeline.pagesToFeatures(spark, pages)
      .filter(col("lat").isNotNull && col("lon").isNotNull)
      .select(xxhash64(col("url"), col("name"), col("lon"), col("lat")).as("p_id"),
        col("lon"), col("lat"))
      .distinct()
      .write.parquet(pointsPath)
  }

  def rep(): Seq[Call] = {
    val (z, zs) = client.call("zonal")(
      SpatialJoin.zonalStats(zonalInput(points), "v").collect())
    val (k, ks) = client.call("knn")(KnnJoin.knn(queries, points, K).collect())
    val (d, ds) = client.call("dbscan")(
      Dbscan.cluster(dbscanInput(points), "p_id", EpsDeg, MinPts, DbscanRes).collect())
    lastZonal = z; lastKnn = k; lastDbscan = d
    Seq(Call("zonal", zs, z.length), Call("knn", ks, k.length), Call("dbscan", ds, d.length))
  }

  def traced(t: Tracer): Unit = {
    val (pts, _) = t.layer("sources.scan", None)(points)
    val (zin, _) = t.layer("trace.input.zonal", Some(pts))(zonalInput(pts))
    t.terminal("operators.zonal", Some(zin)) {
      (SpatialJoin.zonalStats(zin, "v").collect().length.toLong, Map.empty)
    }
    t.terminal("operators.knn", Some(pts)) {
      (KnnJoin.knn(queries, pts, K).collect().length.toLong, Map.empty)
    }
    val (din, _) = t.layer("trace.input.dbscan", Some(pts))(dbscanInput(pts))
    t.terminal("operators.dbscan", Some(din)) {
      (Dbscan.cluster(din, "p_id", EpsDeg, MinPts, DbscanRes).collect().length.toLong,
        Map.empty)
    }
    t.release()
  }

  def check(): Seq[String] = {
    val pts = points.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // kNN: every query against brute force
    val byQuery = lastKnn.groupBy(_.getAs[Long]("q_id"))
    val knnBad = queryPoints.filterNot { case (qid, qlon, qlat) =>
      val expected = pts.map { case (pid, lon, lat) =>
        ((qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat), pid)
      }.sorted.take(K)
      val got = byQuery.getOrElse(qid, Array.empty[Row])
        .sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Double]("dist2"), r.getAs[Long]("p_id")))
      got.length == expected.length && got.zip(expected).forall {
        case ((gd, gp), (ed, ep)) => gp == ep &&
          math.abs(gd - BigDecimal(ed).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12
      }
    }.map(_._1)
    // zonal: a seeded sample of admin polygons, counted point by point
    val zones = lastZonal.map(r => r.getAs[Long]("admin_id") ->
      (r.getAs[Long]("n_pts"), r.getAs[Long]("sum_v"))).toMap
    val polys = PolyRegistry.polys(PolyRegistry.Admin)
    val zoneSample = new scala.util.Random(seed).shuffle(polys.map(_.adminId).toList)
      .take(CheckZones)
    val zonalBad = zoneSample.filterNot { id =>
      val inside = pts.filter(p => PolyRegistry.contains(PolyRegistry.Admin, id, p._2, p._3))
      val expected = (inside.length.toLong, inside.map(p => Math.floorMod(p._1, 97L)).sum)
      zones.getOrElse(id, (0L, 0L)) == expected
    }
    // DBSCAN: one label per input point, every label a member's id or -1
    val dbIds = pts.map(_._1).filter(id => Math.floorMod(id, DbscanEvery.toLong) == 0).toSet
    val labels = lastDbscan.map(r => r.getAs[Long]("p_id") -> r.getAs[Long]("cluster_id"))
    val dbBad = labels.length != dbIds.size || labels.map(_._1).toSet != dbIds ||
      !labels.forall { case (_, c) => c == -1L || dbIds.contains(c) }
    Seq(
      knnBad.isEmpty -> s"kNN differs from brute force for queries ${knnBad.mkString(",")}",
      zonalBad.isEmpty -> s"zonal stats differ from PolyRegistry.contains for ${zonalBad.mkString(",")}",
      lastZonal.nonEmpty -> "zonal stats returned no zones",
      !dbBad -> "DBSCAN labels do not cover the input points exactly once"
    ).collect { case (false, msg) => msg }
  }

  def named(reps: Seq[Seq[Call]]): Seq[(String, Double, String)] =
    Seq("zonal", "knn", "dbscan").map(n =>
      (s"${n}_s", Workload.median(reps.flatten.filter(_.name == n).map(_.secs)), "s"))
}
