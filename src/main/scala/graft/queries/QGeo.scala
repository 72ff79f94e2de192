package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.Geo
import Q._

/** Spatial gate query. Our side runs real WKB geometry (st_point,
  * st_geomfromtext, st_contains broadcast join, st_centroid,
  * st_distance); the DuckDB oracle reproduces the same semantics with
  * plain arithmetic (rectangles: interior containment = strict bound
  * comparisons; distance to centroid = hypot) — so the geometry kernel
  * is checked value-exactly against a non-geometric engine, the same
  * trick the reference's tests use when DuckDB spatial is absent.
  * Points are derived from supplier keys with +0.5 offsets so nothing
  * lands on a zone boundary (st_contains excludes boundaries).
  */
object QGeo extends Batch {

  private val zoneDefs = Seq(
    // name, x1, y1, x2, y2 (integer-cornered rectangles)
    ("sw", 0, 0, 50, 50), ("se", 50, 0, 100, 50),
    ("nw", 0, 50, 50, 100), ("ne", 50, 50, 100, 100))

  val queries: Map[String, QueryFn] = setopQueries ++ holesQueries ++ Map(
    "q_geo_zones" -> { (s, dir) =>
      import s.implicits._
      val zones = zoneDefs
        .map { case (z, x1, y1, x2, y2) =>
          (z, s"POLYGON(($x1 $y1,$x2 $y1,$x2 $y2,$x1 $y2,$x1 $y1))")
        }
        .toDF("zone", "wkt")
        .select($"zone", Geo.st_geomfromtext($"wkt").as("gz"))
      val pts = t(s, dir, "supplier")
        .select($"s_suppkey",
          Geo.st_point($"s_suppkey" * 7 % 100 + lit(0.5),
            $"s_suppkey" * 13 % 100 + lit(0.5)).as("gp"))
      pts.join(broadcast(zones), Geo.st_contains($"gz", $"gp"))
        .groupBy($"zone")
        .agg(count(lit(1)).as("n"),
          sum($"s_suppkey").as("key_sum"),
          round(avg(Geo.st_distance($"gp",
            Geo.st_centroid($"gz"))), 4).as("avg_dist"))
        // <= |zoneDefs| rows by construction: one-task sort (r18)
        .transform(orderedTiny(_, $"zone"))
    })

  /** Holed-polygon set-op gate (round 13): each row is an annulus
    * (rectangle shell with a rectangular hole) clipped against an
    * integer-grid box, plus its r=0.5 buffer. The kernel runs the
    * part algebra + hole erosion; the oracle reproduces every area in
    * closed form (rect-intersection arithmetic; dilation = shell
    * growth + full 32-gon corner fan − eroded hole). */
  lazy val holesQueries: Map[String, QueryFn] = Map(
    "q_geo_holes" -> { (s, dir) =>
      import s.implicits._
      val base = t(s, dir, "supplier").filter($"s_suppkey" < 150)
        .select($"s_suppkey",
          ($"s_suppkey" * 7 % 20).cast("int").as("ax"),
          ($"s_suppkey" * 13 % 20).cast("int").as("ay"),
          ($"s_suppkey" % 3).cast("int").as("hs"),
          ($"s_suppkey" * 11 % 20).cast("int").as("bx"),
          ($"s_suppkey" * 17 % 20).cast("int").as("by"))
      val annWkt = format_string(
        "POLYGON((%d %d,%d %d,%d %d,%d %d,%d %d)," +
          "(%d %d,%d %d,%d %d,%d %d,%d %d))",
        $"ax", $"ay", $"ax" + 12, $"ay", $"ax" + 12, $"ay" + 10,
        $"ax", $"ay" + 10, $"ax", $"ay",
        $"ax" + 2 + $"hs", $"ay" + 3, $"ax" + 6 + $"hs", $"ay" + 3,
        $"ax" + 6 + $"hs", $"ay" + 7, $"ax" + 2 + $"hs", $"ay" + 7,
        $"ax" + 2 + $"hs", $"ay" + 3)
      val ann = Geo.st_geomfromtext(annWkt)
      val box = Geo.st_makeenvelope($"bx".cast("double"),
        $"by".cast("double"), $"bx" + 9.0, $"by" + 7.0)
      base.select($"s_suppkey",
        round(Geo.st_area(ann), 6).as("a_area"),
        round(Geo.st_area(Geo.st_intersection(ann, box)), 6)
          .as("inter_area"),
        round(Geo.st_area(Geo.st_union(ann, box)), 6).as("union_area"),
        round(Geo.st_area(Geo.st_difference(ann, box)), 6)
          .as("diff_area"),
        round(Geo.st_area(Geo.st_buffer(ann, lit(0.5))), 6)
          .as("buf_area"))
        .orderBy("s_suppkey")
    })

  lazy val holesOracle: Map[String, String] = Map(
    "q_geo_holes" ->
      """SELECT s_suppkey,
        |  round(CAST(104 AS DOUBLE), 6) AS a_area,
        |  round(CAST(si - hi AS DOUBLE), 6) AS inter_area,
        |  round(CAST(104 + 63 - (si - hi) AS DOUBLE), 6) AS union_area,
        |  round(CAST(104 - (si - hi) AS DOUBLE), 6) AS diff_area,
        |  -- dilate(12×10 shell) − erode(4×4 hole):
        |  -- 120 + 2·22·0.5 + 32-gon(0.5) − 3·3
        |  round(CAST(133 AS DOUBLE) + 16 * sin(pi() / 16) * 0.25, 6)
        |    AS buf_area
        |FROM (
        |  SELECT s_suppkey,
        |    greatest(0, least(ax + 12, bx + 9) - greatest(ax, bx)) *
        |      greatest(0, least(ay + 10, by + 7) - greatest(ay, by)) AS si,
        |    greatest(0, least(ax + 6 + hs, bx + 9) - greatest(ax + 2 + hs, bx)) *
        |      greatest(0, least(ay + 7, by + 7) - greatest(ay + 3, by)) AS hi
        |  FROM (
        |    SELECT s_suppkey,
        |      CAST(s_suppkey * 7 % 20 AS INT) AS ax,
        |      CAST(s_suppkey * 13 % 20 AS INT) AS ay,
        |      CAST(s_suppkey % 3 AS INT) AS hs,
        |      CAST(s_suppkey * 11 % 20 AS INT) AS bx,
        |      CAST(s_suppkey * 17 % 20 AS INT) AS by
        |    FROM supplier WHERE s_suppkey < 150) a) b
        |ORDER BY s_suppkey""".stripMargin)

  /** Wave-3 set-op gate: per-row rectangle pairs run through the real
    * clipping kernel (st_intersection/st_union/st_difference areas +
    * st_overlaps/st_touches), while the oracle reproduces the same
    * values with interval arithmetic. The first variant keeps the
    * second rectangle on a +0.25 sub-grid (proper crossings only); the
    * _degen variant puts both on the SAME integer grid so every
    * degenerate contact the clipper now handles actually occurs. */
  lazy val setopQueries: Map[String, QueryFn] = Map(
    "q_geo_setops" -> { (s, dir) =>
      import s.implicits._
      val base = t(s, dir, "supplier").filter($"s_suppkey" < 150)
        .select($"s_suppkey",
          ($"s_suppkey" * 7 % 50).cast("double").as("x1"),
          ($"s_suppkey" * 13 % 50).cast("double").as("y1"),
          (($"s_suppkey" * 11 % 50).cast("double") + 0.25).as("x2"),
          (($"s_suppkey" * 17 % 50).cast("double") + 0.25).as("y2"))
      val e1 = Geo.st_makeenvelope($"x1", $"y1", $"x1" + 10, $"y1" + 8)
      val e2 = Geo.st_makeenvelope($"x2", $"y2", $"x2" + 12, $"y2" + 6)
      base.select($"s_suppkey",
        round(Geo.st_area(Geo.st_intersection(e1, e2)), 6).as("inter_area"),
        round(Geo.st_area(Geo.st_union(e1, e2)), 6).as("union_area"),
        round(Geo.st_area(Geo.st_difference(e1, e2)), 6).as("diff_area"),
        Geo.st_overlaps(e1, e2).as("ov"),
        Geo.st_touches(e1, e2).as("tc"))
        .orderBy("s_suppkey")
    },

    // DEGENERATE-contact set ops (round 13): both rectangles on the
    // SAME integer grid, so boundaries collide constantly — shared
    // edges, corner kisses, partial collinear overlaps, vertex-on-edge
    // T-contacts. The clipping kernel must answer every row (its old
    // domain returned NULL here); the oracle is the same interval
    // arithmetic, which is exact for rectangles whatever the contact.
    "q_geo_setops_degen" -> { (s, dir) =>
      import s.implicits._
      val base = t(s, dir, "supplier").filter($"s_suppkey" < 150)
        .select($"s_suppkey",
          ($"s_suppkey" * 7 % 20).cast("double").as("x1"),
          ($"s_suppkey" * 13 % 20).cast("double").as("y1"),
          ($"s_suppkey" * 11 % 20).cast("double").as("x2"),
          ($"s_suppkey" * 17 % 20).cast("double").as("y2"))
      val e1 = Geo.st_makeenvelope($"x1", $"y1", $"x1" + 10, $"y1" + 8)
      val e2 = Geo.st_makeenvelope($"x2", $"y2", $"x2" + 12, $"y2" + 6)
      base.select($"s_suppkey",
        round(Geo.st_area(Geo.st_intersection(e1, e2)), 6).as("inter_area"),
        round(Geo.st_area(Geo.st_union(e1, e2)), 6).as("union_area"),
        round(Geo.st_area(Geo.st_difference(e1, e2)), 6).as("diff_area"),
        Geo.st_overlaps(e1, e2).as("ov"),
        Geo.st_touches(e1, e2).as("tc"))
        .orderBy("s_suppkey")
    })

  lazy val setopOracle: Map[String, String] = Map(
    "q_geo_setops" ->
      """SELECT s_suppkey,
        |  round(iw * ih, 6) AS inter_area,
        |  round(80 + 72 - iw * ih, 6) AS union_area,
        |  round(80 - iw * ih, 6) AS diff_area,
        |  iw * ih > 0 AS ov,
        |  FALSE AS tc
        |FROM (
        |  SELECT s_suppkey,
        |    greatest(0, least(x1 + 10, x2 + 12) - greatest(x1, x2)) AS iw,
        |    greatest(0, least(y1 + 8, y2 + 6) - greatest(y1, y2)) AS ih
        |  FROM (
        |    SELECT s_suppkey,
        |      CAST(s_suppkey * 7 % 50 AS DOUBLE) AS x1,
        |      CAST(s_suppkey * 13 % 50 AS DOUBLE) AS y1,
        |      CAST(s_suppkey * 11 % 50 AS DOUBLE) + 0.25 AS x2,
        |      CAST(s_suppkey * 17 % 50 AS DOUBLE) + 0.25 AS y2
        |    FROM supplier WHERE s_suppkey < 150) a) b
        |ORDER BY s_suppkey""".stripMargin,

    // degenerate grid: raw (unclamped) interval gaps decide touches
    // (boundary contact with empty interior intersection) exactly
    "q_geo_setops_degen" ->
      """SELECT s_suppkey,
        |  round(iw * ih, 6) AS inter_area,
        |  round(80 + 72 - iw * ih, 6) AS union_area,
        |  round(80 - iw * ih, 6) AS diff_area,
        |  iw > 0 AND ih > 0 AS ov,
        |  iwr >= 0 AND ihr >= 0 AND (iwr = 0 OR ihr = 0) AS tc
        |FROM (
        |  SELECT s_suppkey,
        |    greatest(0, iwr) AS iw, greatest(0, ihr) AS ih, iwr, ihr
        |  FROM (
        |    SELECT s_suppkey,
        |      least(x1 + 10, x2 + 12) - greatest(x1, x2) AS iwr,
        |      least(y1 + 8, y2 + 6) - greatest(y1, y2) AS ihr
        |    FROM (
        |      SELECT s_suppkey,
        |        CAST(s_suppkey * 7 % 20 AS DOUBLE) AS x1,
        |        CAST(s_suppkey * 13 % 20 AS DOUBLE) AS y1,
        |        CAST(s_suppkey * 11 % 20 AS DOUBLE) AS x2,
        |        CAST(s_suppkey * 17 % 20 AS DOUBLE) AS y2
        |      FROM supplier WHERE s_suppkey < 150) a) b) c
        |ORDER BY s_suppkey""".stripMargin)

  override val oracleSql: Map[String, String] = setopOracle ++ holesOracle ++ Map(
    "q_geo_zones" -> {
      val zoneCase = zoneDefs.map { case (z, x1, y1, x2, y2) =>
        s"WHEN x > $x1 AND x < $x2 AND y > $y1 AND y < $y2 THEN '$z'"
      }.mkString(" ")
      val centX = zoneDefs.map { case (z, x1, _, x2, _) =>
        s"WHEN '$z' THEN ${(x1 + x2) / 2.0}"
      }.mkString(" ")
      val centY = zoneDefs.map { case (z, _, y1, _, y2) =>
        s"WHEN '$z' THEN ${(y1 + y2) / 2.0}"
      }.mkString(" ")
      s"""SELECT zone, count(*) AS n,
         |  CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
         |  round(avg(sqrt((x - cx)*(x - cx) + (y - cy)*(y - cy))), 4)
         |    AS avg_dist
         |FROM (
         |  SELECT s_suppkey, x, y, zone,
         |    CASE zone $centX END AS cx,
         |    CASE zone $centY END AS cy
         |  FROM (
         |    SELECT s_suppkey,
         |      s_suppkey * 7 % 100 + 0.5 AS x,
         |      s_suppkey * 13 % 100 + 0.5 AS y,
         |      CASE $zoneCase END AS zone
         |    FROM supplier))
         |WHERE zone IS NOT NULL
         |GROUP BY zone ORDER BY zone""".stripMargin
    })
}
