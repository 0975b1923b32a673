package graft

import org.apache.spark.sql.functions._
import graft.functions.{Compress, CompressFunctions}

/** Semantics of the DEFLATE compressibility signal (no DuckDB oracle —
  * zlib output bytes are not pinned across library builds, so the driver
  * gate is rows-only and the properties live here). */
class CompressSpec extends SparkSpec {
  import spark.implicits._

  private val prose = (1 to 60).map(i => s"w${(i * 7919) % 997}x${i % 13}")
    .mkString(" ")
  private val boiler = Seq.fill(60)("the same line again").mkString(" ")

  test("repetitive text compresses far below varied prose") {
    val p = Compress.deflateLen(prose)
    val b = Compress.deflateLen(boiler)
    assert(b * 3 < p, s"boiler=$b prose=$p")
  }

  test("scalar and codegen'd column paths agree, deterministically") {
    val rows = Seq((1L, prose), (2L, boiler), (3L, ""), (4L, "a"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        CompressFunctions.deflateLen(col("text")).as("dl"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) == Compress.deflateLen(prose))
    assert(out(2L) == Compress.deflateLen(boiler))
    assert(out(3L) == Compress.deflateLen(""))
    assert(out(4L) == Compress.deflateLen("a"))
    // rerun == identical (fresh Deflater per value, fixed level)
    assert(Compress.deflateLen(prose) == out(1L))
  }

  test("output is monotone-ish: a superset document never compresses " +
      "to fewer bytes than the flate header floor") {
    val short = Compress.deflateLen("abc")
    assert(short >= 8) // zlib header + stored block floor
    assert(Compress.deflateLen(prose + " " + boiler) >=
      Compress.deflateLen(boiler))
  }

  test("registry entry yields one bounded ratio per non-empty doc") {
    val out = SparkEntry.queries("text_compress_ratio")(
      spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ratio = r.getAs[Long]("ratio_ppm")
      assert(ratio > 0 && ratio <= 2000000, r.toString) // ≤ 2x inflation
    }
  }
}
