package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate

import scala.collection.mutable

import graft.analytics.HealthReport
import graft.ingest.{HhsLoad, QualityLoad}
import graft.streaming.{AggView, Cdc}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The reference's own traffic, one client in a closed loop. Each week:
  * `HhsLoad.load` of that week's CSV (plus `QualityLoad.load` every 13th
  * week), one increment of the revision feed (`Cdc.mergeIntoStore`, then
  * `AggView.mergeWithView`), and the 8 tiles of `HealthReport(asOf = that
  * week).all`, each written to the noop sink.
  *
  * The generator writes reference-shaped CSVs (FIXTURES.md §1 and §2) and
  * keeps the truth the checks compare against: the distinct locations,
  * hospitals and (pk, week) grains loaded, the reporters of each week,
  * and the latest image of every feed key. */
final class Weekly(spark: SparkSession, seed: Long, tiny: Boolean) extends Workload {
  import Weekly._

  private val hospitals = if (tiny) 120 else 5000
  private val maxWeeks = if (tiny) 5 else 6
  private val historyWeeks = if (tiny) 2 else 8
  private val batchSize = if (tiny) 20 else 150
  private val FirstWeek = LocalDate.of(2024, 1, 7)

  // state of the live set-up
  private var dir = ""
  private var gen: HhsGen = _
  private var feed: FeedState = _
  private var loaded = 0 // weeks loaded so far
  private val grains = mutable.Set.empty[(String, Int)]
  private val pks = mutable.Set.empty[String]
  private val locations = mutable.Set.empty[LocKey]
  private var qualityGrains = 0

  private def store = s"$dir/store"
  private def weekDate(w: Int): LocalDate = FirstWeek.plusWeeks(w.toLong)

  def setup(d: String, call: Recorder#Call): Unit = {
    dir = d
    new File(dir).mkdirs()
    gen = call("gen.hhs_csv") {
      val g = new HhsGen(new scala.util.Random(seed), hospitals)
      (0 until maxWeeks).foreach(w => g.writeWeek(s"$dir/hhs_$w.csv", w, weekDate(w)))
      g.writeQuality(s"$dir/quality.csv")
      g
    }
    loaded = 0
    grains.clear(); pks.clear(); locations.clear(); qualityGrains = 0
  }

  /** Seeds the feed's stores once, then runs the first week untimed. */
  def warmup(rec: Recorder): Unit = {
    rec.op("feed.seed") { call =>
      feed = call("streaming.seed")(FeedState.seed(spark, s"$dir/feed", seed, gen, historyWeeks,
        w => weekDate(w - historyWeeks)))
    }
    week(rec)
    // The 8 tiles are short ops; one more refresh of the report settles
    // their JIT state for a tenth of the cost of another week.
    report(rec, loaded - 1)
  }

  def cycle(rec: Recorder): Unit = week(rec)

  override def more: Boolean = loaded < maxWeeks

  private def week(rec: Recorder): Unit = {
    val w = loaded
    rec.op(s"load.week$w") { call =>
      val got = call("ingest.HhsLoad.load")(HhsLoad.load(spark, s"$dir/hhs_$w.csv", store))
      gen.truth(w).foreach { r =>
        grains += ((r.pk, w)); pks += r.pk; locations += r.loc
      }
      checkCounts(s"week $w", got, Map("location" -> locations.size.toLong,
        "hospital" -> pks.size.toLong, "weekly_report" -> grains.size.toLong))
      if (w % 13 == 0) {
        val q = call("ingest.QualityLoad.load")(QualityLoad.load(spark, s"$dir/quality.csv",
          java.sql.Date.valueOf(weekDate(w)), store))
        pks ++= gen.qualityIds
        qualityGrains += gen.qualityIds.size
        checkCounts(s"quality at week $w", q, Map("hospital" -> pks.size.toLong,
          "hospital_quality" -> qualityGrains.toLong))
      }
    }
    loaded += 1
    rec.op(s"feed.week$w") { call =>
      val batch = feed.nextBatch(spark, batchSize)
      val before = if (rec.isTracing) Some(FeedState.listing(feed.dir)) else None
      call("streaming.Cdc.mergeIntoStore")(
        Cdc.mergeIntoStore(batch, feed.cdcDir, FeedKeys, "revision"))
      call("streaming.AggView.mergeWithView")(
        AggView.mergeWithView(batch, feed.baseDir, feed.viewDir, FeedKeys, "revision",
          Seq("collection_week"), FeedSums))
      before.foreach(feed.account)
    }
    report(rec, w)
  }

  private def report(rec: Recorder, w: Int): Unit = {
    val date = java.sql.Date.valueOf(weekDate(w))
    var tiles: Map[String, DataFrame] = Map.empty
    rec.op(s"report.build.week$w") { call =>
      tiles = call("analytics.HealthReport")(new HealthReport(spark, store, date).all)
    }
    TileNames.foreach { t =>
      rec.op(s"tile.$t") { call =>
        call("exec.noop")(tiles(t).write.format("noop").mode("overwrite").save())
      }
    }
  }

  private def checkCounts(what: String, got: Map[String, Long], want: Map[String, Long]): Unit =
    want.foreach { case (t, n) =>
      if (!got.get(t).contains(n))
        throw new Mismatch(s"$what: $t has ${got.getOrElse(t, -1L)} rows, generated $n")
    }

  def verify(rec: Recorder): Unit = {
    rec.op("check.records_summary") { _ =>
      val last = java.sql.Date.valueOf(weekDate(loaded - 1))
      val got = new HealthReport(spark, store, last).recordsPerWeek.collect()
        .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
      val want = (0 until loaded).map(w => weekDate(w) -> gen.truth(w).map(_.pk).distinct.size.toLong).toMap
      if (got != want) throw new Mismatch(
        s"hospital_records_summary differs in weeks ${(got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).toSeq.sorted.take(3).mkString(",")}")
    }
    rec.op("check.feed_store") { _ =>
      val want = feed.latest
      Seq(feed.cdcDir, feed.baseDir).foreach { d =>
        val got = Cdc.readStore(spark, d).select(FeedCols.map(col): _*).collect().map(_.toSeq).toSet
        if (got != want.values.toSet) throw new Mismatch(
          s"store $d holds ${got.size} images, ${(got -- want.values).size} not the latest of their key; want ${want.size}")
      }
    }
    rec.op("check.feed_view") { _ =>
      val rebuilt = s"${feed.viewDir}_rebuilt"
      AggView.rebuild(spark, feed.baseDir, rebuilt, Seq("collection_week"), FeedSums)
      def rows(d: String) = AggView.readView(spark, d)
        .select(("collection_week" +: "cnt" +: FeedSums.map("sum_" + _)).map(col): _*)
        .collect().map(_.toSeq).toSet
      val (got, want) = (rows(feed.viewDir), rows(rebuilt))
      if (got != want) throw new Mismatch(s"view has ${got.size} groups, rebuild ${want.size}; ${(got -- want).size} differ")
    }
  }

  def sidecar: Map[String, Double] = {
    val files = Option(new File(store).listFiles).toSeq.flatten
      .flatMap(d => Option(d.listFiles).toSeq.flatten).count(_.getName.endsWith(".parquet"))
    Map("store.files" -> files.toDouble, "feed.files_rewritten" -> feed.filesRewritten,
      "feed.bytes_rewritten" -> feed.bytesRewritten)
  }
}

object Weekly {
  val TileNames: Seq[String] = Seq("hospital_records_summary", "beds_summary", "beds_utilization",
    "weekly_beds_used", "covid_cases_by_state", "states_fewest_open_beds",
    "hospitals_not_reporting", "hospital_utilization_by_state_over_time")

  val FeedKeys: Seq[String] = Seq("hospital_weekly_id", "collection_week")
  val FeedSums: Seq[String] = Seq("beds_total", "beds_used", "covid_beds")
  val FeedCols: Seq[String] = FeedKeys ++ FeedSums :+ "revision"

  /** The natural key of a location row, with lat/lon as their CSV text
    * (None where the POINT string does not parse). */
  final case class LocKey(city: String, state: String, zip: String, address: String,
      lon: Option[String], lat: Option[String])

  /** One surviving (deduplicated) row of a week's file. */
  final case class Kept(pk: String, loc: LocKey)

  private val States = Seq("AL", "AK", "AZ", "CA", "CO", "FL", "GA", "IL", "MA", "NY", "OH",
    "PA", "TX", "WA", "WI")
  private val Metric = HhsLoad.MetricCols
  private val Extras = Seq("ccn", "hospital_subtype", "is_metro_micro",
    "total_beds_7_day_avg", "previous_day_admission_adult_covid_confirmed_7_day_sum")

  /** Seeded writer of HHS weekly CSVs and one CMS quality CSV; plain file
    * writes, no Spark. */
  final class HhsGen(rnd: scala.util.Random, n: Int) {
    private final case class Hosp(pk: String, name: String, city: String, state: String,
        zip: String, address: String, fips: String, lon: String, lat: String)
    private val hosps = (0 until n).map { i =>
      val st = States(rnd.nextInt(States.size))
      Hosp(f"${10000 + i}%06d", s"Hospital $i", s"City${rnd.nextInt(n / 4 + 1)}", st,
        f"${rnd.nextInt(99999)}%05d", s"${1 + rnd.nextInt(9999)} Main St",
        f"${1000 + rnd.nextInt(50000)}%05d",
        f"${-120 + rnd.nextDouble() * 50}%.6f", f"${25 + rnd.nextDouble() * 20}%.6f")
    }
    private val kept = mutable.Map.empty[Int, Seq[Kept]]

    /** Surviving rows of week `w` (after the pk dedup the load performs). */
    def truth(w: Int): Seq[Kept] = kept(w)

    private val header = Seq("hospital_pk", "ccn", "collection_week", "state", "hospital_name",
      "address", "city", "zip", "hospital_subtype", "fips_code", "is_metro_micro",
      "geocoded_hospital_address") ++ Metric.take(4) ++ Seq("total_beds_7_day_avg") ++
      Metric.drop(4) ++ Seq("previous_day_admission_adult_covid_confirmed_7_day_sum")

    private def metric(): String = {
      val u = rnd.nextDouble()
      if (u < 0.02) "-999999" else if (u < 0.04) "" else if (u < 0.045) "NaN"
      else f"${rnd.nextDouble() * 500}%.1f"
    }

    def writeWeek(path: String, w: Int, week: LocalDate): Unit = {
      val out = new BufferedWriter(new FileWriter(path))
      out.write(header.mkString(",")); out.newLine()
      val reporters = hosps.filter(_ => rnd.nextDouble() >= 0.03) // ~3% do not report
      val rows = reporters.map { h =>
        val u = rnd.nextDouble()
        // mostly a valid POINT; else empty, EMPTY, or text the pattern rejects
        val (geo, lon, lat) =
          if (u < 0.01) ("", None, None)
          else if (u < 0.02) ("POINT EMPTY", None, None)
          else if (u < 0.03) (s"POINT (nan ${h.lat})", None, None)
          else (s"POINT (${h.lon} ${h.lat})", Some(h.lon), Some(h.lat))
        (h, geo, Kept(h.pk, LocKey(h.city, h.state, h.zip, h.address, lon, lat)))
      }
      kept(w) = rows.map(_._3)
      // duplicate hospital_pk rows: the copy's name sorts after the original,
      // so the load's dedup keeps the original
      val dups = rows.filter(_ => rnd.nextDouble() < 0.005).map { case (h, geo, _) =>
        (h.copy(name = h.name + " DUP"), geo) }
      (rows.map(r => (r._1, r._2)) ++ dups).foreach { case (h, geo) =>
        val m = Metric.map(_ => metric())
        val fields = Seq(h.pk, s"CCN${h.pk}", week.toString, h.state, h.name, h.address, h.city,
          h.zip, "Short Term", h.fips, if (rnd.nextBoolean()) "true" else "false", geo) ++
          m.take(4) ++ Seq(metric()) ++ m.drop(4) ++ Seq(rnd.nextInt(50).toString)
        out.write(fields.mkString(",")); out.newLine()
      }
      out.close()
    }

    /** Facility ids of the quality CSV: most hospitals plus ids that no
      * weekly file carries. */
    lazy val qualityIds: Set[String] =
      (hosps.map(_.pk).filter(_ => rnd.nextDouble() < 0.9) ++
        (0 until n / 50 + 1).map(i => f"Q${i}%05d")).toSet

    def writeQuality(path: String): Unit = {
      val out = new BufferedWriter(new FileWriter(path))
      out.write(Seq("Facility ID", "Facility Name", "Address", "City", "State", "ZIP Code",
        "County Name", "Hospital Type", "Hospital Ownership", "Emergency Services",
        "Hospital overall rating", "Hospital overall rating footnote").mkString(","))
      out.newLine()
      val byPk = hosps.map(h => h.pk -> h).toMap
      val ratings = Seq("1", "2", "3", "4", "5", "Not Available", "", "0", "6", "3 ")
      val emergency = Seq("Yes", "No", "YES", "no", "")
      qualityIds.toSeq.sorted.foreach { id =>
        val h = byPk.getOrElse(id, Hosp(id, s"Clinic $id", "Elsewhere", "TX", "75001",
          "1 Side St", "00000", "0", "0"))
        out.write(Seq(id, h.name, h.address, h.city, h.state, h.zip, "County",
          "Acute Care Hospitals", "Government", emergency(rnd.nextInt(emergency.size)),
          ratings(rnd.nextInt(ratings.size)), "").mkString(","))
        out.newLine()
      }
      out.close()
    }
  }

  private val FeedSchema = StructType(Seq(
    StructField("hospital_weekly_id", StringType), StructField("collection_week", DateType),
    StructField("beds_total", LongType), StructField("beds_used", LongType),
    StructField("covid_beds", LongType), StructField("revision", LongType)))

  /** The revision feed: a Cdc store and an AggView base store plus its
    * by-week view, seeded with `weeks` weeks of weekly_report rows. Each
    * increment revises random existing keys with a higher revision and
    * adds a few keys that were missing (late reporters). */
  final class FeedState(val dir: String, rnd: scala.util.Random,
      val latest: mutable.Map[(String, java.sql.Date), Seq[Any]],
      missing: mutable.ArrayBuffer[(String, java.sql.Date)]) {
    def cdcDir: String = s"$dir/cdc"
    def baseDir: String = s"$dir/base"
    def viewDir: String = s"$dir/view"
    var filesRewritten = 0.0
    var bytesRewritten = 0.0
    private lazy val keys = mutable.ArrayBuffer.from(latest.keys.toSeq.sortBy(k => (k._1, k._2.getTime)))

    private def values(): Seq[Any] =
      Seq.fill(3)(if (rnd.nextDouble() < 0.03) null else java.lang.Long.valueOf(rnd.nextInt(900).toLong))

    def nextBatch(spark: SparkSession, n: Int): DataFrame = {
      val fresh = math.min(missing.size, n / 10)
      val picked = mutable.LinkedHashSet.empty[(String, java.sql.Date)]
      while (picked.size < n - fresh) picked += keys(rnd.nextInt(keys.size))
      val added = (0 until fresh).map(_ => missing.remove(rnd.nextInt(missing.size)))
      keys ++= added
      val images = (picked.toSeq ++ added).map { k =>
        val rev = latest.get(k).map(_.last.asInstanceOf[Long] + 1).getOrElse(1L)
        val img = Seq[Any](k._1, k._2) ++ values() :+ rev
        latest(k) = img
        Row.fromSeq(img)
      }
      spark.createDataFrame(java.util.Arrays.asList(images: _*), FeedSchema)
    }

    /** Files written or rewritten by the last increment, from listings. */
    def account(before: Map[String, (Long, Long)]): Unit = {
      val changed = FeedState.listing(dir).filter { case (p, v) => !before.get(p).contains(v) }
      filesRewritten += changed.size
      bytesRewritten += changed.values.map(_._1).sum.toDouble
    }
  }

  object FeedState {
    def listing(dir: String): Map[String, (Long, Long)] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length, f.lastModified)).toMap
    }

    def seed(spark: SparkSession, dir: String, seed: Long, gen: HhsGen, weeks: Int,
        date: Int => LocalDate): FeedState = {
      val rnd = new scala.util.Random(seed * 31 + 7)
      val latest = mutable.Map.empty[(String, java.sql.Date), Seq[Any]]
      val missing = mutable.ArrayBuffer.empty[(String, java.sql.Date)]
      val state = new FeedState(dir, rnd, latest, missing)
      val pkList = gen.truth(0).map(_.pk) // any week's reporters: the hospital universe less a few
      for (w <- 0 until weeks; pk <- pkList) {
        val k = (pk, java.sql.Date.valueOf(date(w)))
        if (rnd.nextDouble() < 0.03) missing += k
        else latest(k) = Seq[Any](k._1, k._2) ++ Seq.fill(3)(java.lang.Long.valueOf(rnd.nextInt(900).toLong)) :+ 0L
      }
      val rows = latest.values.toSeq.sortBy(r => (r(0).toString, r(1).toString)).map(Row.fromSeq)
      val history = spark.createDataFrame(java.util.Arrays.asList(rows: _*), FeedSchema)
      Cdc.mergeIntoStore(history, state.cdcDir, FeedKeys, "revision")
      Cdc.mergeIntoStore(history, state.baseDir, FeedKeys, "revision")
      AggView.rebuild(spark, state.baseDir, state.viewDir, Seq("collection_week"), FeedSums)
      state
    }
  }
}
