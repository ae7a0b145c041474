package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.Pipeline
import graft.serving.ServingLayer

/** The dashboard's read path over the gold tables a medallion run has
  * just written, with table handles opened once as a long-lived API
  * process holds them.
  */
object Serving {

  final case class Tables(g1: DataFrame, g2: DataFrame, g3: DataFrame,
      g4: DataFrame, g5: DataFrame, g6: DataFrame, dims: DataFrame)

  def build(t: Tables, items: Array[Long], q: Gen.Request): DataFrame = {
    val item = items(q.itemRank)
    q.route match {
      case "opportunities" => ServingLayer.opportunities(t.g3, q.recommendation)
      case "bestOpportunity" => ServingLayer.bestOpportunity(t.g3)
      case "priceHistoryDense" => ServingLayer.priceHistoryDense(t.g2, item)
      case "priceHistory" => ServingLayer.priceHistory(t.g2, item)
      case "dailySummary" => ServingLayer.dailySummary(t.g1, Some(item))
      case "demand" => ServingLayer.demand(t.g4, Some(item))
      case "concentration" => ServingLayer.concentration(t.g5, q.status)
      case "marketIndex" => ServingLayer.marketIndex(t.g6)
      case "items" => ServingLayer.items(t.dims, skip = q.page * 20, limit = 20)
    }
  }

  /** One request per route, for the k-th most listed item. The
    * opportunities probe asks for HOLD: with the retention the workload
    * runs at, G3 holds at most two days per item, whose sample z-score
    * never reaches the BUY or SELL threshold.
    */
  val probes: IndexedSeq[Gen.Request] = Gen.routes.zipWithIndex.map { case (route, k) =>
    Gen.Request(k, route, k, k % 5, Some("hold"), Some("HEALTHY")) }

  /** Serve every route once to warm it up and check its answer against an
    * independent expression, then `passes` more times, timed and traced.
    */
  def phase(c: Ctx, p: Pipeline, items: Array[Long], passes: Int): Unit = {
    val t = Tables(p.gold("g1_daily_market_summary"), p.gold("g2_price_history"),
      p.gold("g3_market_opportunities"), p.gold("g4_item_demand"),
      p.gold("g5_market_concentration"), p.gold("g6_market_index"), p.dims)
    Seq("g1" -> t.g1, "g2" -> t.g2, "g3" -> t.g3, "g4" -> t.g4, "g5" -> t.g5,
      "g6" -> t.g6, "dims" -> t.dims)
      .foreach { case (n, df) => df.createOrReplaceTempView(s"perfbench_$n") }
    probes.foreach { q =>
      c.attempt(s"${q.route} request")(build(t, items, q).collect()).foreach { rows =>
        val want = expected(c, t, items, q)
        // an empty answer would make the comparison below vacuous
        c.check(s"serving ${q.route} has a non-empty independent answer",
          want.nonEmpty, s"request $q")
        c.check(s"serving ${q.route} matches an independent expression",
          render(rows) == render(want), s"request $q")
      }
    }

    val before = c.layers.map(_.counts())
    val served = mutable.ArrayBuffer[(String, Double, Double)]() // route, plan ms, exec ms
    for (pass <- 1 to passes; q <- probes) {
      val op = s"${q.route}#$pass"
      c.tracer.span("serving.request", op) {
        c.attempt(s"${q.route} request") {
          val t0 = System.nanoTime()
          val df = c.tracer.span("serving.plan", op) {
            val df = build(t, items, q); df.queryExecution.executedPlan; df
          }
          val t1 = System.nanoTime()
          c.tracer.span("serving.exec", op)(df.collect())
          served += ((q.route, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6))
        }
      }
    }
    val total = served.map(s => s._2 + s._3).toSeq
    c.named("serve_p50_ms") = (Stats.median(total), "ms")
    c.named("serve_requests") = (served.size.toDouble, "count")
    c.layer("serving.plan_ms_p50", Stats.median(served.map(_._2).toSeq), "ms")
    c.layer("serving.exec_ms_p50", Stats.median(served.map(_._3).toSeq), "ms")
    for (b <- before; l <- c.layers; a = l.counts()) {
      c.layer("serving.jobs_per_req", (a._1 - b._1).toDouble / math.max(1, served.size), "count")
      c.layer("serving.bytes_per_req", (a._2 - b._2).toDouble / math.max(1, served.size), "bytes")
    }
    Gen.routes.foreach { r =>
      c.layer(s"serving.${r}_ms_p50",
        Stats.median(served.filter(_._1 == r).map(s => s._2 + s._3).toSeq), "ms")
    }
  }

  /** Rows as comparable strings (doubles to 9 significant digits). */
  def render(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map {
      case d: Double => f"$d%.9g"
      case null => "null"
      case x => x.toString
    }.mkString("|"))

  /** The route's answer computed without ServingLayer: SQL over the same
    * gold tables, and for the dense price history a driver-side
    * gap-fill over the item's bars.
    */
  private def expected(c: Ctx, t: Tables, items: Array[Long], q: Gen.Request): Array[Row] = {
    val item = items(q.itemRank)
    def sql(s: String) = c.spark.sql(s).collect()
    def eqOpt(colName: String, v: Option[String]) =
      v.map(x => s"WHERE $colName = '$x'").getOrElse("")
    q.route match {
      case "opportunities" =>
        sql(s"SELECT * FROM perfbench_g3 ${eqOpt("recommendation", q.recommendation.map(_.toUpperCase))} " +
          "ORDER BY z_score ASC NULLS LAST, item_id, snapshot_date")
      case "bestOpportunity" =>
        sql("SELECT * FROM perfbench_g3 ORDER BY z_score ASC NULLS LAST, item_id, snapshot_date LIMIT 1")
      case "priceHistory" =>
        sql(s"SELECT * FROM perfbench_g2 WHERE item_id = $item ORDER BY snapshot_hour DESC LIMIT 48")
      case "dailySummary" =>
        sql(s"SELECT * FROM perfbench_g1 WHERE item_id = $item ORDER BY snapshot_date DESC, item_id LIMIT 100")
      case "demand" =>
        sql(s"SELECT * FROM perfbench_g4 WHERE item_id = $item ORDER BY snapshot_date DESC, item_id LIMIT 100")
      case "concentration" =>
        sql(s"SELECT * FROM perfbench_g5 ${eqOpt("market_status", q.status)} " +
          "ORDER BY floor_concentration_pct DESC, item_id, snapshot_date LIMIT 100")
      case "marketIndex" =>
        sql("SELECT * FROM perfbench_g6 ORDER BY snapshot_date DESC LIMIT 30")
      case "items" =>
        sql(s"SELECT * FROM perfbench_dims ORDER BY item_id LIMIT 20 OFFSET ${q.page * 20}")
      case "priceHistoryDense" =>
        denseBars(sql(s"SELECT snapshot_hour, open_price, high_price, low_price, close_price, " +
          s"avarage_price, volume FROM perfbench_g2 WHERE item_id = $item"), item, 48)
    }
  }

  /** 48 hourly bars ending at the item's latest bar; an hour without a
    * bar repeats the last close (volume 0), a carry that enters the
    * window only through the newest bar at or before its first hour.
    */
  private def denseBars(bars: Array[Row], item: Long, limit: Int): Array[Row] = {
    if (bars.isEmpty) return Array.empty
    val hourMs = 3600000L
    def ms(r: Row) = r.getTimestamp(0).getTime
    def dbl(r: Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[Number].doubleValue)
    val byHour = bars.map(r => ms(r) -> r).toMap
    val hi = bars.map(ms).max
    val lo = hi - (limit - 1) * hourMs
    val anchor = bars.filter(ms(_) <= lo).sortBy(-ms(_)).headOption
    // the grid value at `lo` is the anchor's close (the newest bar at or
    // before it), later hours take their own bar's close; nulls carry
    // the last value forward
    var carried: Option[Double] = None
    val out = mutable.ArrayBuffer[Row]()
    var h = lo
    while (h <= hi) {
      val here = if (h == lo) anchor.flatMap(dbl(_, 4)) else byHour.get(h).flatMap(dbl(_, 4))
      if (here.isDefined) carried = here
      val bar = byHour.get(h)
      def pick(i: Int) = bar.flatMap(dbl(_, i)).orElse(carried)
      val close = pick(4)
      if (close.isDefined)
        out += Row(item, new java.sql.Timestamp(h), pick(1).orNull, pick(2).orNull,
          pick(3).orNull, close.get, pick(5).orNull,
          bar.filterNot(_.isNullAt(6)).map(_.getLong(6)).getOrElse(0L))
      h += hourMs
    }
    out.reverse.take(limit).toArray
  }
}
