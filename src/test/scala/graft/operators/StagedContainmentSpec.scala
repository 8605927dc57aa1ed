package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The staged (band-pass) containment decomposition (VERDICT r10 #3):
  * union-of-passes ∘ distinct ≡ the single-pass prefix-filtered
  * operator, for any pass count — the correctness half of the
  * fourth-decade scratch-bounding campaign (ContainmentStaged runs the
  * same band function one JVM per pass).
  */
class StagedContainmentSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)
  private def keys = Dedup.keys(docs, "doc_id", "text", 3)

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
      r.getAs[Long]("shared"), r.getAs[Long]("n_a"),
      r.getAs[Long]("n_b"), r.getAs[Double]("containment"))).toSet

  test("staged band-passes ∘ distinct == single-pass containmentPairsPrefix " +
      "(passes = 3 and 5)") {
    val single = rows(Dedup.containmentPairsPrefix(
      keys, threshold = 0.5, maxShingleDf = 100))
    single should not be empty
    Seq(3, 5).foreach { p =>
      val staged = rows(Dedup.containmentPairsPrefixStaged(
        keys, threshold = 0.5, maxShingleDf = 100, passes = p))
      withClue(s"passes=$p: ") { staged shouldBe single }
    }
  }

  test("containmentPairsPrefixShared over the md5-LSH staged (id, sh) " +
      "frame == the standalone containmentPairsPrefix (round-12 " +
      "ensemble stage sharing)") {
    val single = rows(Dedup.containmentPairsPrefix(
      keys, threshold = 0.5, maxShingleDf = 100))
    single should not be empty
    val (lshKeys, _) = Dedup.md5StagedAndCandidates(
      docs, "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)
    val shared = rows(Dedup.containmentPairsPrefix(
      lshKeys, threshold = 0.5, maxShingleDf = 100))
    shared shouldBe single
  }

  test("round-13 ensemble explode sharing: verifyNearDupCandidatesKeys + " +
      "containmentPairsPrefixFromKeys over ONE shared exploded hashed-key " +
      "table == the per-signal forms") {
    val (lshKeys, cand) = Dedup.md5StagedAndCandidates(
      docs, "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)
    val jacPairs = (df: DataFrame) => df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Double]("jaccard"))).toSet
    val jacShared = jacPairs(Dedup.jaccardPairs(
      lshKeys, cand, threshold = 0.5))
    val jacOwn = jacPairs(Dedup.nearDuplicatePairsMd5(
      docs, "doc_id", "text", threshold = 0.5))
    jacShared should not be empty
    jacShared shouldBe jacOwn
    val contShared = rows(Dedup.containmentPairsPrefix(
      lshKeys, threshold = 0.5, maxShingleDf = 100))
    val contOwn = rows(Dedup.containmentPairsPrefix(
      keys, threshold = 0.5, maxShingleDf = 100))
    contShared should not be empty
    contShared shouldBe contOwn
  }

  test("derived pass count (passes = 0): B from the candidate mass and " +
      "scratch budget; derived-B results == hand-B == single-pass") {
    val (sh, _, prefix) = Dedup.containmentStaging(
      keys, threshold = 0.5, maxShingleDf = 100)
    // exact mass: B scales as ceil(mass·bytes/budget) and floors at 1
    val mass = prefix.groupBy(col("h")).agg(count(lit(1)).as("np"))
      .join(sh.groupBy(col("h")).agg(count(lit(1)).as("ns")), Seq("h"))
      .agg(sum(col("np") * col("ns"))).head().getLong(0)
    mass should be > 0L
    // a roomy budget collapses to the single-pass plan
    Dedup.deriveContainmentPasses(prefix, sh, 1L << 40) shouldBe 1
    // a budget sized to a third of the mass's bytes forces a 3-way split
    val third = math.max(1L, (mass * 48.0 / 3).toLong)
    val b3 = Dedup.deriveContainmentPasses(prefix, sh, third)
    b3 should (be >= 3 and be <= 4) // ceil rounding
    // and the DERIVED plan is row-identical to hand-set and single-pass
    val single = rows(Dedup.containmentPairsPrefix(
      keys, threshold = 0.5, maxShingleDf = 100))
    val derived = rows(Dedup.containmentPairsPrefixStaged(
      keys, threshold = 0.5, maxShingleDf = 100, passes = 0,
      scratchBudgetBytes = third))
    derived shouldBe single
  }

  test("each band emits a subset; every single-pass pair appears in " +
      "some band; bands genuinely split the candidate work") {
    val passes = 4
    val single = rows(Dedup.containmentPairsPrefix(
      keys, threshold = 0.5, maxShingleDf = 100))
    val (sh, arr, prefix) = Dedup.containmentStaging(
      keys, threshold = 0.5, maxShingleDf = 100)
    val perBand = (0 until passes).map { b =>
      rows(Dedup.containmentVerify(
        Dedup.containmentCandidatesBand(prefix, sh, b, passes), arr, 0.5))
    }
    perBand.foreach(_ should not be empty) // the split is real, 4-way
    perBand.foreach { band => band.subsetOf(single) shouldBe true }
    perBand.reduce(_ ++ _) shouldBe single
    // NOTE: band OUTPUTS overlap heavily by design — a near-dup pair
    // shares many prefix shingles, so it re-verifies in most bands.
    // The scratch bound is on the candidate JOIN KEYS, which the bands
    // partition exactly: pin that the key space really splits 4-way.
    val keyBands = Tables.documents(spark, sf)
      .select(explode(graft.operators.TextAnalysis.wordShingles(
        col("text"), 3)).as("s"))
      .select(pmod(xxhash64(col("s")), lit(4L)).as("band"))
      .groupBy(col("band")).count().collect()
    keyBands.length shouldBe 4
    keyBands.map(_.getLong(1)).foreach(_ should be > 0L)
  }

  test("a band index outside [0, passes) is rejected, not written as an " +
      "empty or unfiltered candidate set") {
    val (sh, _, prefix) = Dedup.containmentStaging(
      keys, threshold = 0.5, maxShingleDf = 100)
    Seq((4, 4), (-1, 4), (1, 1), (0, 0)).foreach { case (band, passes) =>
      withClue(s"band=$band passes=$passes: ") {
        val e = intercept[IllegalArgumentException] {
          Dedup.containmentCandidatesBand(prefix, sh, band, passes)
        }
        e.getMessage should include("0 <= band < passes")
      }
    }
  }
}
