package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geospatial grid analytics: cell density, grid-bucketed nearest
  * neighbor, radius (range) queries, and great-circle distance. The
  * reference's relational surface hands whole-operator analytics of this
  * class to its embedded engine (`/root/reference/src/datasource/table.rs:150-204`
  * scan → DataFusion); here each is expressed as the canonical Spark
  * shape: bucket points into fixed grid cells, then turn the quadratic
  * "near each other" predicate into an equi-join on cell id — the same
  * bound-the-candidates design as the MinHash/hyperplane LSH joins
  * (`Dedup.scala`, `Similarity.scala`), with geometry instead of hashes.
  *
  * Scale design: the grid join is the whole story. A naive spatial
  * self-join is |points|² — the cell equi-join is |points| × (occupancy
  * of 9 cells), and cell size is the knob that bounds occupancy (pick
  * cells at the query radius; dense-city skew would be handled exactly
  * like LSH bucket caps or AQE skew splits). Coordinates stay exact
  * integer 1e-4 degrees end-to-end — distances are exact BIGINT
  * arithmetic, so the gate never depends on trig — except the final
  * great-circle report, where each libm output is rounded at 6dp before
  * any further arithmetic (the proven cross-engine law, see
  * QueryDef.scala) and the closing multiply lands on a 6dp grid point.
  *
  * Points are derived deterministically from integer keys (pure modular
  * arithmetic, identical in both engines) because the synthetic tables
  * carry no coordinates; a real deployment reads lat/lon columns and
  * every plan below is unchanged.
  */
object SpatialOps {

  /** 1e-4-degree integer coordinates synthesized from the customer key.
    * The scramble is QUADRATIC (k·(k+c) mod m, then affine): an affine
    * map alone places keys on a 2-D lattice whose basis vectors exceed
    * the cell size, so no two points are ever grid-neighbors; the
    * quadratic pass scatters them uniformly. The inner mod keeps every
    * intermediate ≤ m² ≈ 1.3e13, safely inside BIGINT in both engines. */
  private val latSql =
    "((c_custkey * (c_custkey + 12345)) % 1600001 * 7919 + 13) % 1600001 - 800000"
  private val lonSql =
    "((c_custkey * (c_custkey + 54321)) % 3600001 * 104729 + 97) % 3600001 - 1800000"

  private def points(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").as("id"),
      expr(latSql).cast("long").as("lat_e4"),
      expr(lonSql).cast("long").as("lon_e4"))

  private val ptsCte =
    s"""pts AS MATERIALIZED (SELECT c_custkey AS id,
       |  CAST($latSql AS BIGINT) AS lat_e4,
       |  CAST($lonSql AS BIGINT) AS lon_e4 FROM customer)""".stripMargin

  /** 4°-cell id; `mul`=100 keeps x/y digits disjoint (cx ≤ 91 < 100). */
  private def cellSql(lat: String, lon: String, dy: String = "0", dx: String = "0",
      fdiv: String = "div"): String =
    s"(($lat + 800000) $fdiv 40000 + $dy) * 100 + (($lon + 1800000) $fdiv 40000 + $dx)"

  /** probe(id, lat_e4, lon_e4, pcell) × 9 neighbor cells joined to every
    * point bucketed by its own cell; each candidate matches exactly one
    * of the 9 probe rows, so the join is duplicate-free by construction. */
  private def nnPairs(s: SparkSession, d: String, maxId: Long): DataFrame = {
    val pts = points(s, d)
    val cand = pts.select(col("id").as("nid"), col("lat_e4").as("nlat"),
      col("lon_e4").as("nlon"),
      expr(cellSql("lat_e4", "lon_e4")).as("ncell"))
    pts.filter(col("id") < maxId)
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("pcell", expr(cellSql("lat_e4", "lon_e4", "dy", "dx")))
      .join(cand, col("pcell") === col("ncell") && col("id") =!= col("nid"))
      .withColumn("dist2",
        expr("(lat_e4 - nlat) * (lat_e4 - nlat) + (lon_e4 - nlon) * (lon_e4 - nlon)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("dist2"), col("nid"))))
      .filter(col("rn") === 1)
  }

  private def nnCte(maxId: Long): String = {
    val d2 = "(p.lat_e4 - c.nlat) * (p.lat_e4 - c.nlat) + " +
      "(p.lon_e4 - c.nlon) * (p.lon_e4 - c.nlon)"
    s"""$ptsCte,
       |cand AS (SELECT id AS nid, lat_e4 AS nlat, lon_e4 AS nlon,
       |  ${cellSql("lat_e4", "lon_e4", fdiv = "//")} AS ncell FROM pts),
       |nn AS (
       |  SELECT p.id, c.nid, c.nlat, c.nlon, p.lat_e4, p.lon_e4,
       |    CAST($d2 AS BIGINT) AS dist2,
       |    ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY $d2, c.nid) AS rn
       |  FROM pts p
       |  CROSS JOIN (SELECT o.dx, y.dy FROM (VALUES (-1),(0),(1)) o(dx),
       |              (VALUES (-1),(0),(1)) y(dy)) off
       |  JOIN cand c
       |    ON ${cellSql("p.lat_e4", "p.lon_e4", "off.dy", "off.dx", "//")} = c.ncell
       |   AND p.id <> c.nid
       |  WHERE p.id < $maxId)""".stripMargin
  }

  /** Per-e4-unit degree→radian factor; the identical literal is rendered
    * into both engines so the conversion is one shared IEEE multiply. */
  private val Rad = "1.7453292519943295e-6"

  def defs: Seq[QueryDef] = Seq(

    // Density heatmap: pure integer bucketing + partial-agg count. At
    // 100 TB this is one narrow scan → map-side combine on ≤ 33×91 cells.
    QueryDef.sql(
      "spatial_cell_density",
      s"""WITH $ptsCte
         |SELECT CAST((lat_e4 + 800000) // 50000 AS BIGINT) AS cell_y,
         |       CAST((lon_e4 + 1800000) // 50000 AS BIGINT) AS cell_x,
         |       CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM pts GROUP BY 1, 2
         |ORDER BY cnt DESC, cell_y, cell_x LIMIT 15""".stripMargin) { (s, d) =>
      points(s, d)
        .groupBy(expr("(lat_e4 + 800000) div 50000").as("cell_y"),
          expr("(lon_e4 + 1800000) div 50000").as("cell_x"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("cell_y"), col("cell_x")).limit(15)
    },

    // Grid-bucketed nearest neighbor: the quadratic NN predicate as a
    // cell equi-join (shuffle on cell id, candidates bounded by 9-cell
    // occupancy), then one row_number per probe point.
    QueryDef.sql(
      "spatial_grid_nn",
      s"""WITH ${nnCte(200)}
         |SELECT id, nid, dist2 FROM nn WHERE rn = 1 ORDER BY id""".stripMargin) {
      (s, d) => nnPairs(s, d, 200).select("id", "nid", "dist2").orderBy("id")
    },

    // Radius (range) query: 5 broadcast probe points; bbox prefilter then
    // the exact-integer circle test. At scale the bbox predicate prunes
    // spatially-clustered files (cf. q_zorder_layout); the probe side is
    // always broadcast-sized.
    QueryDef.sql(
      "spatial_radius_count",
      s"""WITH $ptsCte,
         |probes AS (SELECT n_nationkey AS pid,
         |  CAST((n_nationkey * 393241 + 700) % 1600001 - 800000 AS BIGINT) AS plat,
         |  CAST((n_nationkey * 786433 + 7000) % 3600001 - 1800000 AS BIGINT) AS plon
         |  FROM nation WHERE n_nationkey < 5)
         |SELECT pid, CAST(SUM(CASE WHEN
         |    abs(lat_e4 - plat) <= 150000 AND abs(lon_e4 - plon) <= 150000
         |    AND (lat_e4 - plat) * (lat_e4 - plat) +
         |        (lon_e4 - plon) * (lon_e4 - plon) <= 22500000000
         |  THEN 1 ELSE 0 END) AS BIGINT) AS cnt
         |FROM probes CROSS JOIN pts GROUP BY pid ORDER BY pid""".stripMargin) {
      (s, d) =>
        val probes = Tables.nation(s, d).filter(col("n_nationkey") < 5)
          .select(col("n_nationkey").as("pid"),
            expr("(n_nationkey * 393241 + 700) % 1600001 - 800000")
              .cast("long").as("plat"),
            expr("(n_nationkey * 786433 + 7000) % 3600001 - 1800000")
              .cast("long").as("plon"))
        points(s, d).crossJoin(broadcast(probes))
          .groupBy("pid")
          .agg(sum(when(
            abs(col("lat_e4") - col("plat")) <= 150000 &&
              abs(col("lon_e4") - col("plon")) <= 150000 &&
              expr("(lat_e4 - plat) * (lat_e4 - plat) + " +
                "(lon_e4 - plon) * (lon_e4 - plon)") <= 22500000000L,
            1L).otherwise(0L)).as("cnt"))
          .orderBy("pid")
    },

    // Great-circle distance over the NN pairs: haversine with every libm
    // output (sin/cos/asin) rounded at 6dp before further arithmetic;
    // the final ×12742 km lands on an exact 6dp grid point, so the
    // closing round is boundary-free in both engines.
    QueryDef.sql(
      "spatial_haversine_nn", {
        val s1 = s"round(sin(((nlat - lat_e4) * $Rad) / 2), 6)"
        val s2 = s"round(sin(((nlon - lon_e4) * $Rad) / 2), 6)"
        val c1 = s"round(cos(lat_e4 * $Rad), 6)"
        val c2 = s"round(cos(nlat * $Rad), 6)"
        s"""WITH ${nnCte(100)},
           |h AS (SELECT id, nid,
           |    least($s1 * $s1 + $c1 * $c2 * $s2 * $s2, 1.0) AS a
           |  FROM nn WHERE rn = 1)
           |SELECT id, nid,
           |  round(round(asin(sqrt(a)), 6) * 12742.0, 6) AS dist_km
           |FROM h ORDER BY id""".stripMargin
      }) { (s, d) =>
      val s1 = round(sin(((col("nlat") - col("lat_e4")) * expr(Rad)) / 2), 6)
      val s2 = round(sin(((col("nlon") - col("lon_e4")) * expr(Rad)) / 2), 6)
      val c1 = round(cos(col("lat_e4") * expr(Rad)), 6)
      val c2 = round(cos(col("nlat") * expr(Rad)), 6)
      nnPairs(s, d, 100)
        .withColumn("a", least(s1 * s1 + c1 * c2 * s2 * s2, lit(1.0)))
        .select(col("id"), col("nid"),
          round(round(asin(sqrt(col("a"))), 6) * 12742.0, 6).as("dist_km"))
        .orderBy("id")
    },

    // ------------------------------------------------------------------
    // Grid DBSCAN (eps = one 40000-e4 cell, minPts = 3): density
    // clustering as pure dataflow. The eps-neighbor pairs come from the
    // SAME 9-cell equi-join as spatial_grid_nn (never |points|²); core
    // points (≥ minPts in their eps-ball, self included) link into
    // clusters via [[Dedup.connectedComponentsAuto]] — exact star
    // contraction to a metadata-scale rep graph, then a bounded driver
    // union-find (log-star fallback past the cap), min-id labels
    // throughout — and border points attach to their smallest core
    // cluster. Output: per-cluster core/total counts plus one cluster=-1
    // noise row. The oracle replays core/border classification and a
    // recursive-CTE closure. SCALE: candidates bounded by 9-cell
    // occupancy; every later stage runs on the pair/core frames; the
    // closure is diameter-independent (contraction + union-find /
    // O(log n) log-star — a diameter-112 snake cluster in the sf0.1
    // data is what forced this design).
    QueryDef.sql(
      "spatial_dbscan", {
        val d2 = "(a.lat_e4 - b.lat_e4) * (a.lat_e4 - b.lat_e4) + " +
          "(a.lon_e4 - b.lon_e4) * (a.lon_e4 - b.lon_e4)"
        s"""WITH RECURSIVE $ptsCte,
          |nbrs AS MATERIALIZED (
          |  SELECT a.id, b.id AS nid FROM pts a JOIN pts b
          |  ON a.id <> b.id AND $d2 <= CAST(1600000000 AS BIGINT)),
          |core AS MATERIALIZED (
          |  SELECT id FROM (SELECT id, COUNT(*) AS n FROM nbrs GROUP BY id)
          |  WHERE n + 1 >= 3),
          |cedges AS MATERIALIZED (
          |  SELECT n.id AS src, n.nid AS dst FROM nbrs n
          |  WHERE n.id IN (SELECT id FROM core)
          |    AND n.nid IN (SELECT id FROM core)),
          |reach AS (
          |  SELECT src AS id, dst AS r FROM cedges
          |  UNION
          |  SELECT e.src, reach.r FROM cedges e JOIN reach ON e.dst = reach.id),
          |cc AS MATERIALIZED (
          |  SELECT c.id, least(c.id, coalesce(mr.r, c.id)) AS cluster
          |  FROM core c LEFT JOIN
          |    (SELECT id, MIN(r) AS r FROM reach GROUP BY id) mr
          |    ON c.id = mr.id),
          |border AS MATERIALIZED (
          |  SELECT n.id, MIN(cc.cluster) AS cluster
          |  FROM nbrs n JOIN cc ON n.nid = cc.id
          |  WHERE n.id NOT IN (SELECT id FROM core) GROUP BY n.id),
          |labeled AS MATERIALIZED (
          |  SELECT id, cluster, 1 AS is_core FROM cc
          |  UNION ALL SELECT id, cluster, 0 FROM border)
          |SELECT CAST(cluster AS BIGINT) AS cluster,
          |  CAST(SUM(is_core) AS BIGINT) AS n_core,
          |  CAST(COUNT(*) AS BIGINT) AS n_pts
          |FROM labeled GROUP BY cluster
          |UNION ALL
          |SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pts
          |   WHERE id NOT IN (SELECT id FROM labeled))
          |ORDER BY cluster""".stripMargin
      }) { (s, d) =>
      val eps2 = 40000L * 40000L
      val pts = points(s, d)
      val cand = pts.select(col("id").as("nid"), col("lat_e4").as("nlat"),
        col("lon_e4").as("nlon"),
        expr(cellSql("lat_e4", "lon_e4")).as("ncell"))
      val pairs = graft.CacheRegistry.ensurePersisted(pts
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("pcell", expr(cellSql("lat_e4", "lon_e4", "dy", "dx")))
        .join(cand, col("pcell") === col("ncell") && col("id") =!= col("nid"))
        .withColumn("dist2", expr(
          "(lat_e4 - nlat) * (lat_e4 - nlat) + (lon_e4 - nlon) * (lon_e4 - nlon)"))
        .filter(col("dist2") <= eps2)
        .select("id", "nid"))
      val core = graft.CacheRegistry.ensurePersisted(
        pairs.groupBy("id").agg(count(lit(1)).as("n"))
          .filter(col("n") + 1 >= 3).select("id"))
      val cedges = graft.CacheRegistry.ensurePersisted(pairs
        .join(core, Seq("id"), "left_semi")
        .join(core.withColumnRenamed("id", "nid"), Seq("nid"), "left_semi"))
      // Diameter-shaped closure (Dedup.connectedComponentsAuto): the
      // sf0.1 spatial graph hides a diameter-~112 snake cluster, which
      // min-label propagation cannot afford (and silently SPLIT at the
      // old maxIter=20 — caught this round). Auto = two exact star
      // contractions (≈ diameter/4, preserves min-id labels — NOTE a
      // same-CELL collapse would NOT be exact here: cell width = eps, so
      // two same-cell points can be √2·eps apart with no direct edge),
      // then a bounded driver union-find on the metadata-scale
      // contracted graph (log-star fallback past the cap). Every stage
      // is exact, so the oracle's recursive closure matches
      // bit-for-bit; non-convergence on the fallback path fails loudly.
      val cc = Dedup.connectedComponentsAuto(cedges, "id", "nid")
      val coreLab = core.join(cc, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("cluster_id"), col("id")).as("cluster"))
      val border = pairs
        .join(core, Seq("id"), "left_anti")
        .join(coreLab.select(col("id").as("nid"), col("cluster")), "nid")
        .groupBy("id").agg(min("cluster").as("cluster"))
      val labeled = graft.CacheRegistry.ensurePersisted(
        coreLab.withColumn("is_core", lit(1))
          .unionByName(border.withColumn("is_core", lit(0))))
      val clusters = labeled.groupBy("cluster")
        .agg(sum("is_core").cast("bigint").as("n_core"),
          count(lit(1)).cast("bigint").as("n_pts"))
      val noise = pts.join(labeled.select("id"), Seq("id"), "left_anti")
        .agg(count(lit(1)).cast("bigint").as("n_pts"))
        .select(lit(-1L).as("cluster"), lit(0L).cast("bigint").as("n_core"),
          col("n_pts"))
      clusters.select(col("cluster").cast("bigint"), col("n_core"),
          col("n_pts"))
        .unionByName(noise).orderBy("cluster")
    })
}
