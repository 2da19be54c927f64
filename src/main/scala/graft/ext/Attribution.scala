package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.round6

/** Markov-chain multi-touch attribution (Anderl et al. 2014 — the
  * "removal effect" model): user journeys become a first-order Markov
  * chain over channels with absorbing CONV/NULL states; a channel's
  * credit is how much total conversion probability drops when every
  * transition INTO that channel is redirected to NULL. The principled
  * alternative to last-touch (`q_events_attribution`'s as-of join).
  *
  * Scale shape: journey construction and transition counting are
  * per-user window work + one (src, dst) count aggregate — fully
  * distributed, the exchange carries (src, dst) pairs over a ≤
  * (channels+2)² domain. The chain itself is metadata-sized: counts
  * collect as a BOUNDED driver decision (the k-means-centroid /
  * Fellegi–Sunter-weights pattern) and absorption probabilities come
  * from `iters` fixed-point iterations in EXACT integer arithmetic —
  * p₉(s) ← (Σ cnt(s,s′)·p₉(s′) + cnt(s,CONV)·10⁹) div tot(s) — so the
  * whole decision is order-invariant and replayed verbatim by a
  * recursive-CTE oracle. One double division per output cell at the end.
  */
object Attribution {

  private val Nano = 1000000000L // p is carried in 1e-9 units

  /** (src, dst, cnt) transition counts. States: "START" plus each
    * channel; dst additionally "CONV" (journey ended with `convType`)
    * and "NULL" (journey never converted). A journey is a user's event
    * run up to and including each conversion (jidx = number of STRICTLY
    * PRIOR conversions); conversions with no preceding touch in their
    * journey emit START→CONV directly.
    */
  def transitionCounts(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, convType: String): DataFrame = {
    val wAll = Window.partitionBy(userCol).orderBy(tsCol, idCol)
    val ev = events.select(col(userCol).as("u"), col(tsCol).as("t"),
        col(idCol).as("i"), col(typeCol).as("et"))
      .withColumn("jidx", coalesce(
        sum(when(col("et") === convType, 1L))
          .over(Window.partitionBy("u").orderBy("t", "i")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val conv = ev.where(col("et") === convType)
      .select(col("u"), col("jidx")).distinct()
    val wj = Window.partitionBy("u", "jidx").orderBy("t", "i")
    val tch = ev.where(col("et") =!= convType)
      .withColumn("rn", row_number().over(wj))
      .withColumn("nxt", lead("et", 1).over(wj))
    val tchC = tch.join(conv.withColumn("__c", lit(true)),
      Seq("u", "jidx"), "left")
    val t1 = tchC.where(col("rn") === 1)
      .select(lit("START").as("src"), col("et").as("dst"))
    val t2 = tchC.where(col("nxt").isNotNull)
      .select(col("et").as("src"), col("nxt").as("dst"))
    val t3 = tchC.where(col("nxt").isNull)
      .select(col("et").as("src"),
        when(col("__c"), lit("CONV")).otherwise(lit("NULL")).as("dst"))
    val t4 = conv.join(tch.select("u", "jidx").distinct(),
        Seq("u", "jidx"), "left_anti")
      .select(lit("START").as("src"), lit("CONV").as("dst"))
    t1.unionByName(t2).unionByName(t3).unionByName(t4)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
  }

  /** Conversion probability (in 1e-9 units) from START after `iters`
    * integer fixed-point steps, with transitions into `removed`
    * redirected to NULL (denominators unchanged). Pure function of the
    * count map — identical on driver and in the SQL replay.
    */
  private def pConv9(cnt: Map[(String, String), Long], states: Seq[String],
      removed: Option[String], iters: Int): Long = {
    val tot: Map[String, Long] = states.map { s =>
      s -> cnt.collect { case ((`s`, _), c) => c }.sum
    }.toMap
    var p: Map[String, Long] = states.map(_ -> 0L).toMap
    for (_ <- 0 until iters) {
      p = states.map { s =>
        if (tot(s) == 0L) s -> 0L
        else {
          val flow = states.filterNot(removed.contains)
            .map(s2 => cnt.getOrElse((s, s2), 0L) * p(s2)).sum
          s -> ((flow + cnt.getOrElse((s, "CONV"), 0L) * Nano) / tot(s))
        }
      }.toMap
    }
    p("START")
  }

  /** Removal-effect attribution over the given channel vocabulary.
    * @return one row per channel: (channel, p_conv_full, p_conv_removed,
    *         removal_effect) — effect = 1 − p_removed/p_full, null when
    *         the full chain never converts
    */
  def removalEffects(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, convType: String,
      channels: Seq[String], iters: Int = 60): DataFrame = {
    require(channels.nonEmpty && iters > 0, "need channels and iters > 0")
    val spark = events.sparkSession
    import spark.implicits._
    val cnt = transitionCounts(events, userCol, tsCol, idCol, typeCol,
        convType)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val states = "START" +: channels
    val full = pConv9(cnt, states, None, iters)
    // probabilities ship as EXACT 1e-9-unit integers (no float rounding
    // can disagree across engines); only the effect ratio is a double
    val rows = channels.sorted.map { c =>
      val pr = pConv9(cnt, states, Some(c), iters)
      (c, full, pr,
        if (full == 0L) None
        else Some(round6(1.0 - pr.toDouble / full.toDouble)))
    }
    rows.toDF("channel", "p_conv_full_e9", "p_conv_removed_e9",
      "removal_effect")
  }
}
