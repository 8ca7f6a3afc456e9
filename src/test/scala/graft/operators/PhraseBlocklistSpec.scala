package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSuite
import graft.functions.{AcAutomaton, NativeHash}

/** Byte-level Aho–Corasick phrase-blocklist matcher: every-end-position
  * occurrence counting, fail-chain output folding, UTF-8 safety, and
  * codegen parity with a naive reference. */
class PhraseBlocklistSpec extends SparkSuite {
  import spark.implicits._

  /** Naive reference: count of (phrase, end position) pairs. */
  private def naive(text: String, phrases: Seq[String]): Long =
    phrases.map { p =>
      var c = 0L
      var i = text.indexOf(p)
      while (i >= 0) { c += 1; i = text.indexOf(p, i + 1) }
      c
    }.sum

  test("overlaps and fail-chain outputs count every end position") {
    val ac = new AcAutomaton(Seq("aa"))
    assert(ac.count(UTF8String.fromString("aaaa")) == 3L) // ends at 2,3,4
    // "b" ends wherever "ab" ends: the fail chain must fold both
    val ac2 = new AcAutomaton(Seq("ab", "b"))
    assert(ac2.count(UTF8String.fromString("ab")) == 2L)
    val ac3 = new AcAutomaton(Seq("a", "aa", "aab"))
    assert(ac3.count(UTF8String.fromString("aab")) == 4L) // a,a,aa,aab
    assert(new AcAutomaton(Seq("xyz")).count(UTF8String.fromString("xy")) == 0L)
  }

  test("randomized small-alphabet corpus equals the naive matcher") {
    val rnd = new scala.util.Random(1337)
    val phrases = Seq("ab", "ba", "aab", "bb", "a b", "abab")
    val ac = new AcAutomaton(phrases)
    (1 to 300).foreach { _ =>
      val s = Seq.fill(1 + rnd.nextInt(40))("ab b".charAt(rnd.nextInt(4))).mkString
      assert(ac.count(UTF8String.fromString(s)) == naive(s, phrases), s"text='$s'")
    }
  }

  test("randomized PHRASE SETS: automaton construction equals the naive matcher") {
    // random phrase sets stress goto/fail construction (shared prefixes,
    // phrases that are substrings/suffixes of each other), not just the
    // matching walk
    val rnd = new scala.util.Random(9001)
    (1 to 60).foreach { round =>
      val n = 1 + rnd.nextInt(6)
      val phrases = Seq.fill(n)(
        Seq.fill(1 + rnd.nextInt(5))("ab ".charAt(rnd.nextInt(3))).mkString).distinct
      val ac = new AcAutomaton(phrases)
      (1 to 20).foreach { _ =>
        val s = Seq.fill(rnd.nextInt(30))("ab ".charAt(rnd.nextInt(3))).mkString
        assert(ac.count(UTF8String.fromString(s)) == naive(s, phrases),
          s"round=$round phrases=$phrases text='$s'")
      }
    }
  }

  test("multi-byte UTF-8 phrases match exactly (self-synchronizing bytes)") {
    val ac = new AcAutomaton(Seq("héllo", "wörld"))
    assert(ac.count(UTF8String.fromString("héllo wörld héllo")) == 3L)
    assert(ac.count(UTF8String.fromString("hello world")) == 0L)
  }

  test("expression path (codegen) equals the naive reference over a DataFrame") {
    val phrases = Seq("scan filter", "slow table", "query spark hash", "key agg")
    val dir = tmpDir("phrase-plan")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val got = docs.select(col("doc_id"),
        NativeHash.phraseMatchCount(col("text"), phrases).as("hits"))
      .as[(Long, Long)].collect().toMap
    val want = docs.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> naive(t, phrases) }.toMap
    assert(got == want)
    assert(got.values.sum > 0L, "fixture phrases must actually occur")
  }

  test("empty blocklists and empty phrases are refused") {
    intercept[IllegalArgumentException](new AcAutomaton(Nil))
    intercept[IllegalArgumentException](new AcAutomaton(Seq("ok", "")))
  }

  test("the blocklist is a SET: duplicate entries count once") {
    val dup = new AcAutomaton(Seq("aa", "aa", "b", "aa"))
    val uniq = new AcAutomaton(Seq("aa", "b"))
    Seq("aaaa", "b aa b", "ababab").foreach { s =>
      val u = UTF8String.fromString(s)
      assert(dup.count(u) == uniq.count(u), s"text='$s'")
      assert(dup.count(u) == naive(s, Seq("aa", "b")), s"text='$s'")
    }
  }

  test("bad literals fail eagerly at analysis time on the driver") {
    graft.GraftExtensions.register(spark)
    // an empty phrase in the array literal must fail when the expression
    // is BUILT (analysis), not per-task behind the transient lazy automaton
    val e1 = intercept[Exception](
      spark.sql("SELECT graft_phrase_matches('x', array('ok', ''))").collect())
    assert(e1.getMessage.contains("non-empty"), e1.getMessage)
    // a NULL element gets a typed message, not an NPE
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_phrase_matches('x', array('ok', NULL))").collect())
    assert(e2.getMessage.contains("NULL"), e2.getMessage)
    // the Column API path fails at construction too
    val e3 = intercept[Exception](
      NativeHash.phraseMatchCount(col("text"), Seq("ok", "")))
    assert(e3.getMessage.contains("non-empty"), e3.getMessage)
    // the other registered functions follow the same rule: a non-literal
    // int argument, a non-foldable phrase array and a non-array input all
    // fail when the query is analyzed
    val e4 = intercept[Exception](
      spark.sql("SELECT graft_minhash(split('a b', ' '), 1 + 7)").collect())
    assert(e4.getMessage.contains("numHashes"), e4.getMessage)
    val e5 = intercept[Exception](
      spark.sql("SELECT graft_phrase_matches('x', array(rand()::string))").collect())
    assert(e5.getMessage.contains("foldable"), e5.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_simhash(42)").collect())
  }

  test("10k-phrase scale probe: build is sub-second-ish, matching is allocation-free fast") {
    val rnd = new scala.util.Random(4242)
    val words = Array("query", "scan", "spark", "table", "filter", "join",
      "agg", "sort", "merge", "hash", "key", "slow", "fast", "index", "plan")
    def phrase() = Seq.fill(2 + rnd.nextInt(3))(words(rnd.nextInt(words.length))).mkString(" ")
    val phrases = Iterator.continually(phrase()).distinct.take(10000).toSeq
    val t0 = System.nanoTime()
    val ac = new AcAutomaton(phrases)
    val buildMs = (System.nanoTime() - t0) / 1e6
    assert(ac.numStates > 10000, s"trie must materialize (${ac.numStates} states)")
    // generous bound: a frozen-array build is ~tens of ms; 5 s catches a
    // quadratic regression without box-weather flakiness
    assert(buildMs < 5000.0, s"10k-phrase build took ${buildMs}ms")
    // ~8 MB of text from the same vocabulary (worst case: every byte walks
    // deep into the trie) — pin throughput well above a boxed-HashMap path
    val text = Seq.fill(1000000)(words(rnd.nextInt(words.length))).mkString(" ")
    val u = UTF8String.fromString(text)
    ac.count(u) // warm the JIT once
    val t1 = System.nanoTime()
    val hits = ac.count(u)
    val matchSec = (System.nanoTime() - t1) / 1e9
    val mbPerSec = u.numBytes / 1e6 / matchSec
    assert(hits > 0L, "the probe text must contain blocklist phrases")
    info(f"10k phrases: build ${buildMs}%.1f ms, match $mbPerSec%.0f MB/s")
    assert(mbPerSec > 20.0, f"match throughput $mbPerSec%.1f MB/s is too slow")
  }
}
