package graft

import graft.llm.{Dedup, Multimodal, Similarity, Winnow}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bucket-size cap at its boundary, for every in-bucket pair
  * generator: a bucket of exactly `cap` members yields all its pairs,
  * a bucket of `cap + 1` members is dropped whole. Group A (ids
  * 1..cap) and group B (ids 101..101+cap) are planted so that their
  * members collide in every band with each other and in none with the
  * other group. */
class NearDupCapSpec extends SparkSuite {
  import spark.implicits._

  private val cap = 4
  private val groupA = (1L to cap.toLong).toSeq
  private val groupB = (101L to 101L + cap).toSeq
  private val pairsA =
    (for (a <- groupA; b <- groupA if a < b) yield (a, b)).toSet

  private def idPairs(df: DataFrame, a: String = "id_a",
                      b: String = "id_b"): Set[(Long, Long)] =
    df.select(col(a).cast("long"), col(b).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH: cap-member bucket pairs, cap+1 bucket drops") {
    val sigs = (groupA.map(i => (i, Seq.fill(16)(7L))) ++
      groupB.map(i => (i, Seq.fill(16)(9L)))).toDF("doc_id", "sig")
    for (withEst <- Seq(true, false)) {
      val c = Dedup.candidatesFromSignatures(sigs, numHashes = 16,
        bands = 4, maxBucketSize = cap, withEst = withEst)
      assert(idPairs(c) == pairsA, s"withEst=$withEst")
    }
  }

  test("simhash: cap-member bucket pairs, cap+1 bucket drops") {
    val sh = (groupA.map(i => (i, 0x1111222233334444L)) ++
      groupB.map(i => (i, 0x5555666677778888L))).toDF("doc_id", "sh")
    for (maxDist <- Seq(0, 3)) {
      val p = Dedup.simhashNearDupsFromHashes(sh, maxDist = maxDist,
        maxBucketSize = cap)
      assert(idPairs(p) == pairsA, s"maxDist=$maxDist")
    }
  }

  test("winnow fingerprints: cap-doc hashes pair, cap+1-doc hashes drop") {
    val textA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val textB = "one two three four five six seven eight nine ten eleven"
    val docs = (groupA.map(i => (i, textA)) ++ groupB.map(i => (i, textB)))
      .toDF("doc_id", "text")
    val p = Winnow.sharedFingerprintPairs(docs, "doc_id", "text",
      minShared = 2, maxDocFreq = cap)
    assert(idPairs(p) == pairsA)
  }

  test("embedding LSH: cap-member bucket pairs, cap+1 bucket drops") {
    val v = Seq(1.0f, 0.5f, -0.3f, 0.2f)
    val corpus = (groupA.map(i => (i, v)) ++
      groupB.map(i => (i, v.map(-_)))).toDF("vec_id", "embedding")
    val p = Similarity.embeddingNearDups(corpus, threshold = 0.99, dim = 4,
      nBits = 4, maxBucketSize = cap)
    assert(idPairs(p) == pairsA)
  }

  test("media perceptual hash: cap-member bucket pairs, cap+1 drops") {
    val hashes = (groupA.map(i => (s"p$i", 0x0101010101010101L)) ++
      groupB.map(i => (s"p$i", 0x0202020202020202L))).toDF("path", "ahash")
    val p = Multimodal.nearDuplicateMedia(hashes, maxDist = 3,
      maxBucketSize = cap)
    val got = p.select("path_a", "path_b").as[(String, String)].collect()
      .map { case (a, b) => (a.drop(1).toLong, b.drop(1).toLong) }.toSet
    assert(got == pairsA)
  }
}
