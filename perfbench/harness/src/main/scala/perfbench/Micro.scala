package perfbench

import org.apache.spark.sql.SparkSession

/** Direct calls into graft's geometry codecs and CRS transform, timed in
  * nanoseconds per call. The sample is fixed per input: 4,000 rows of the
  * run's own tables (lineitem keys, or embedding coordinates for the text
  * corpus) shaped into points, envelopes and linestrings the way the contract
  * queries shape them. Each measure is the median of 5 passes over the
  * sample, kernel memos cleared before each pass. */
object Micro {
  // resolved CRS ids, as st_transform hands them to GeoFns.transformPoint
  private val Crs = Seq("3857", "EPSG:2154", "EPSG:5070", "EPSG:2766", "EPSG:3995",
    "EPSG:3575", "ESRI:54008", "+proj=mill +ellps=WGS84", "ESRI:54030", "EPSG:8857",
    "EPSG:2163")

  def run(spark: SparkSession, data: String): String = {
    val xy = coords(spark, data)
    val wkt = xy.zipWithIndex.map { case ((x, y), i) =>
      i % 3 match {
        case 0 => s"POINT ($x $y)"
        case 1 => s"POLYGON (($x $y, ${x + 6} $y, ${x + 6} ${y + 8}, $x ${y + 8}, $x $y))"
        case _ => s"LINESTRING ($x $y, ${x + 10} ${y + 7}, ${x + 3} ${y + 11})"
      }
    }
    val geoms = wkt.map(graft.geom.Geo.fromWkt)
    val wkb = geoms.map(graft.geom.Wkb.write)
    val lonLat = xy.map { case (x, y) => (-120.0 + x % 50 + 0.25, 25.0 + y % 25 + 0.5) }
    val sink = new Array[Double](1)
    val json = new Json
    json.obj(
      "wkt_read_ns" -> json.num(time(wkt.length)(wkt.foreach(s =>
        sink(0) += graft.geom.Geo.fromWkt(s).getNumPoints))),
      "wkb_write_ns" -> json.num(time(geoms.length)(geoms.foreach(g =>
        sink(0) += graft.geom.Wkb.write(g).length))),
      "wkb_read_ns" -> json.num(time(wkb.length)(wkb.foreach(b =>
        sink(0) += graft.geom.Geo.read(b).getNumPoints))),
      "transform_point_ns" -> json.num(time(lonLat.length * Crs.length)(Crs.foreach { to =>
        lonLat.foreach { case (lon, lat) =>
          sink(0) += graft.functions.GeoFns.transformPoint(lon, lat, "CRS84", to, true)._1
        }
      })),
      "sink" -> json.num(if (sink(0).isNaN) 0.0 else 1.0))
  }

  private def time(calls: Int)(body: => Unit): Double = {
    val ns = (0 until 5).map { _ =>
      graft.Graft.clearKernelMemos()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0).toDouble / calls
    }.sorted
    ns(2)
  }

  private def coords(spark: SparkSession, data: String): Seq[(Double, Double)] = {
    val line = new java.io.File(s"$data/lineitem.parquet")
    if (line.exists)
      spark.read.parquet(line.getPath).selectExpr("cast(l_partkey AS DOUBLE)", "cast(l_suppkey AS DOUBLE)")
        .limit(4000).collect().toSeq.map(r => (r.getDouble(0), r.getDouble(1)))
    else
      spark.read.parquet(s"$data/embeddings.parquet")
        .selectExpr("cast(round(embedding[0] * 10000) / 10 AS DOUBLE)",
          "cast(round(embedding[1] * 10000) / 10 AS DOUBLE)")
        .limit(4000).collect().toSeq.map(r => (r.getDouble(0), r.getDouble(1)))
  }
}
