package graft.llmops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core.SessionMemo

/** Per-session derived state goes through graft.core.SessionMemo, keyed
  * by the session object itself: a second lookup on the same session is
  * a memo hit, a new session (newSession(), the restart shape test
  * suites and notebook reconnects produce) builds its own value and is
  * never served one bound to another session, and a build that throws
  * leaves nothing behind. The stopped-session sweep needs a stopped
  * SparkContext, which a shared-context suite cannot produce safely; it
  * is pinned here from the live side only.
  */
class MemoDisciplineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // a fresh memo's lookup and its build count
  private def counting(): (SparkSession => String, () => Int) = {
    val memo = new SessionMemo[String]
    var builds = 0
    ((s: SparkSession) => memo(s, "k") { builds += 1; s"v$builds" }, () => builds)
  }

  test("SessionMemo: a second call on the same session returns the stored value") {
    val (get, builds) = counting()
    val v = get(spark)
    assert((get(spark) eq v) && builds() == 1)
  }

  test("SessionMemo: a new session gets its own value") {
    val (get, builds) = counting()
    val v = get(spark)
    val other = spark.newSession()
    val w = get(other)
    assert(w != v && builds() == 2)
    assert(get(other) eq w)
    assert(get(spark) eq v)
  }

  test("SessionMemo: a build that throws stores nothing") {
    val memo = new SessionMemo[String]
    var builds = 0
    intercept[IllegalStateException] {
      memo(spark, "k") { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(memo(spark, "k") { builds += 1; "ok" } == "ok" && builds == 2)
  }

  test("shared bases are memoized per session and never served across sessions") {
    val a = spark.newSession()
    val b = spark.newSession()

    val ea1 = VectorSearch.embeddingsBase(a, sf)
    val ea2 = VectorSearch.embeddingsBase(a, sf)
    assert(ea1 eq ea2, "second lookup on the same session must be a memo hit")
    val eb = VectorSearch.embeddingsBase(b, sf)
    assert(!(eb eq ea1), "a fresh session must get its own base")
    assert((ea1.sparkSession eq a) && (eb.sparkSession eq b),
      "served frame bound to the wrong session")

    val wa = MinHashLSH.wordSetsBase(a, sf)
    val wb = MinHashLSH.wordSetsBase(b, sf)
    assert(!(wa eq wb) && (wa.sparkSession eq a) && (wb.sparkSession eq b))

    val oa = SetSim.orderedBase(a, sf)
    val ob = SetSim.orderedBase(b, sf)
    assert(!(oa eq ob) && (oa.sparkSession eq a) && (ob.sparkSession eq b))

    val (cba, codesA) = VectorSearch.pqIndex(a, sf)
    val (cbb, codesB) = VectorSearch.pqIndex(b, sf)
    assert(!(codesA eq codesB) &&
      (cba.sparkSession eq a) && (cbb.sparkSession eq b))
    assert(VectorSearch.pqIndex(a, sf)._2 eq codesA, "second lookup must memo-hit")

    val ca = VectorSearch.sharedCentroids(a, sf)
    assert(VectorSearch.sharedCentroids(a, sf) eq ca, "second lookup must memo-hit")
    assert(!(VectorSearch.sharedCentroids(b, sf) eq ca))

    // both sessions persist to the same per-lake path; each build makes
    // a fresh String, so identity tells a hit from a rebuild
    val pa = VectorSearch.persistPqIndex(a, sf)
    assert(VectorSearch.persistPqIndex(a, sf) eq pa, "second lookup must memo-hit")
    assert(!(VectorSearch.persistPqIndex(b, sf) eq pa))

    val la = LabelProp.predictions(a, sf)
    val lb = LabelProp.predictions(b, sf)
    assert(LabelProp.predictions(a, sf) eq la, "second lookup must memo-hit")
    assert(!(la eq lb) && (la.sparkSession eq a) && (lb.sparkSession eq b))

    val xa = LangModel.crossScored(a, sf)
    val xb = LangModel.crossScored(b, sf)
    assert(LangModel.crossScored(a, sf) eq xa, "second lookup must memo-hit")
    assert(!(xa eq xb) && (xa.sparkSession eq a) && (xb.sparkSession eq b))

    val ka = AudioFingerprint.peaks(a)
    val kb = AudioFingerprint.peaks(b)
    assert(AudioFingerprint.peaks(a) eq ka, "second lookup must memo-hit")
    assert(!(ka eq kb) && (ka.sparkSession eq a) && (kb.sparkSession eq b))

    // populating B's generation must not unpersist A's (CacheBin keeps
    // one generation per session): A's base is still marked for caching
    assert(ea1.storageLevel.useMemory,
      "session A's cached base was unpersisted by session B's population")
    // and both compute the same corpus
    assert(ea1.count() == eb.count())
  }
}
