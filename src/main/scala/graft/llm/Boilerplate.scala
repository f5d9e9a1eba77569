package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document boilerplate detection: n-gram document frequency.
  *
  * Template/boilerplate text (nav bars, license headers, cookie banners) is
  * the text that repeats ACROSS documents — the standard web-corpus curation
  * signal (CCNet / RefinedWeb strip lines duplicated across docs; this
  * fixture's text has no line structure, so the unit here is the n-token
  * shingle). A gram is boilerplate when it occurs in >= `minDf` DISTINCT
  * documents; a document's boilerplate fraction is the share of its gram
  * POSITIONS covered by such grams.
  *
  * Scale design (100 TB):
  *   - grams travel as 56-bit md5-derived hashes, never strings — the
  *     (id, gh) shuffle rows are 16 bytes. md5 (not a faster non-portable
  *     hash) so the DuckDB oracle derives identical ints from the same hex
  *     (the minhash/q41 convention).
  *   - document frequency is distinct-(doc, gram) then a keyed count: two
  *     hash exchanges on slim rows, map-side partials on both.
  *   - the per-doc flag pass is a LEFT SEMI equi-join against the boilerplate
  *     gram set — no row widening, and Zipf guarantees the boilerplate set
  *     (df >= minDf) is orders of magnitude smaller than the gram universe.
  *   - gram positions explode to rows (not array lambdas) so the hashing
  *     stays inside whole-stage codegen (expressions nested in array
  *     lambdas re-evaluate per element and never codegen).
  */
object Boilerplate {

  /** 56-bit engine-portable gram hash (DuckDB: ('0x'||substr(md5(g),1,14))::BIGINT). */
  private def gramHash(g: Column): Column =
    conv(substring(org.apache.spark.sql.graft.GraftColumns.fastMd5(g), 1, 14), 16, 10)
      .cast("long")

  /** One row per gram POSITION: (id, gh). Documents shorter than n tokens
    * contribute no grams (unlike the Jaccard shingle ops, which fall back to
    * whole-text shingles so every doc can pair — here a short doc simply has
    * nothing to be boilerplate).
    */
  private def gramPositions(df: DataFrame, textCol: String, idCol: String,
                            n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TextStats.tokens(Dedup.normalize(col(textCol))).as("w"))
      .select(col("id"), col("w"), (size(col("w")) - (n - 1)).as("ng"))
      .filter(col("ng") > 0)
      .select(col("id"), col("w"), explode(sequence(lit(1), col("ng"))).as("i"))
      .select(col("id"), gramHash(concat_ws(" ", slice(col("w"), col("i"), lit(n)))).as("gh"))

  /** Per-document boilerplate profile: (idCol, n_grams, n_boiler,
    * boiler_frac) — every input doc appears (short docs as 0/0/0.0).
    * `boiler_frac` is position-weighted (a gram repeated inside one doc
    * counts each occurrence) and rounded to 6 places for cross-engine
    * hashing. Downstream curation filters on it (`boiler_frac < cutoff`).
    */
  def boilerplateFraction(df: DataFrame, textCol: String, idCol: String,
                          n: Int, minDf: Long): DataFrame = {
    val pos = gramPositions(df, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val boiler = pos.distinct()
      .groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("gh")
    val flagged = pos.join(boiler, Seq("gh"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_boiler"))
    df.select(col(idCol).as("id"),
        greatest(size(TextStats.tokens(Dedup.normalize(col(textCol)))) - (n - 1), lit(0))
          .cast("long").as("n_grams"))
      .join(flagged, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
          greatest(col("n_grams"), lit(1L)).cast("double"), 6).as("boiler_frac"))
  }
}
