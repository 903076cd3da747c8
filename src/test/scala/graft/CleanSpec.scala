package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Clean

/** Raw-CSV → clean-layer semantics (FIXTURES.md §2, `analytics_otodom.py:14-51`,
  * `test.py:21-26`): sentinel handling, IEEE ratio, rename totality, and the
  * sentinel-filling CSV sink round-trip. */
class CleanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val raw = Clean.readRaw(spark, "/root/repo/data/rental_raw.csv")
  private lazy val cleaned = Clean.clean(raw)

  test("raw scan: explicit all-string schema, 29 columns, header skipped") {
    assert(raw.schema.fields.length === 29)
    assert(raw.schema.fields.forall(_.dataType.typeName === "string"))
    assert(raw.count() === 64)
  }

  test("rename projection is total: every raw column mapped, no collisions") {
    assert(Clean.asciiNames.keySet === Clean.rawColumns.toSet)
    assert(Clean.asciiNames.values.toSet.size === Clean.rawColumns.size)
    assert(cleaned.columns.toSet.intersect(Clean.rawColumns.toSet -- Seq("media", "url")).isEmpty)
  }

  test("clean layer schema: the 36 (name, type) pairs, in order") {
    val ascii = Seq("title", "price", "rent_fee", "deposit", "area", "voivodeship",
      "county", "city", "district", "street", "location", "rooms",
      "advertiser_type", "heating", "floor", "finishing_state", "available_from",
      "additional_info", "building_year", "elevator", "building_type",
      "building_material", "windows", "safety", "equipment", "security", "media",
      "url", "scrape_date").map(_ -> "string")
    val parsed = Seq("price_num", "rent_fee_num", "deposit_num", "area_num",
      "rooms_num", "price_per_m2").map(_ -> "double") :+ ("scraped_at" -> "timestamp")
    assert(cleaned.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq ===
      ascii ++ parsed)
  }

  test("sentinel becomes null inside the engine") {
    assert(cleaned.where(col("city") === Clean.Sentinel).count() === 0)
    assert(cleaned.where(col("city").isNull).count() > 0)
  }

  test("IEEE ratio parity: x/0 → Inf kept by F3, 0/0 → NaN dropped, null propagates") {
    val ppm = cleaned.select(col("url"), col("price_per_m2"))
      .as[(String, Option[Double])].collect().toMap
    // row 8: price "3 200 zł", area "0" → +Infinity
    assert(ppm("https://www.otodom.pl/pl/oferta/mieszkanie-8")
      .contains(Double.PositiveInfinity))
    // row 50: price "0 zł", area "0" → NaN
    assert(ppm("https://www.otodom.pl/pl/oferta/mieszkanie-50").exists(_.isNaN))
    // row 2: price sentinel → null ratio
    assert(ppm("https://www.otodom.pl/pl/oferta/mieszkanie-2").isEmpty)
    // F3 keeps Inf, drops null AND NaN (test.py:26 pandas notna parity)
    val kept = cleaned
      .where(col("price_per_m2").isNotNull && !isnan(col("price_per_m2")))
      .select(col("price_per_m2")).as[Double].collect()
    assert(kept.exists(_.isPosInfinity) && !kept.exists(_.isNaN))
  }

  test("timestamp coerce: junk → null, well-formed parses") {
    val ts = cleaned.select(col("url"), col("scraped_at").isNull)
      .as[(String, Boolean)].collect().toMap
    assert(ts("https://www.otodom.pl/pl/oferta/mieszkanie-55")) // "junk-date"
    assert(!ts("https://www.otodom.pl/pl/oferta/mieszkanie-1"))
  }

  test("CSV sink round-trip: nulls serialized as the sentinel (S2/P11)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    Clean.writeCsv(cleaned.select("url", "city", "district"), dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.where(col("city") === Clean.Sentinel).count() ===
      cleaned.where(col("city").isNull).count())
    assert(back.count() === cleaned.count())
  }

  test("city slice: case-insensitive match (unicode fold), empty raises (F6/A12)") {
    val hit = Clean.citySlice(cleaned, "wArSzAwA")
    assert(hit.count() === 8)
    assert(hit.select("city").distinct().collect().map(_.getString(0)).toSeq === Seq("Warszawa"))
    val e = intercept[IllegalArgumentException](Clean.citySlice(cleaned, "Atlantyda"))
    assert(e.getMessage.contains("Atlantyda"))
  }
}
