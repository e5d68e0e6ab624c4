package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Drop semantics of the DF-filtered n-gram tier (r17 fused plan).
  *
  * The driver's oracle gate proves `q_dedup_ngram_df` equals its SQL
  * at sf0.01 and the 10× replica — but neither corpus contains a
  * PURE-CHROME document, so the tier's exclusion rule ("a doc whose
  * every gram is hot drops out entirely", the C4 convention,
  * `TextQueries.dedupNgramDfAt` scaladoc) is never exercised by the
  * gate. Before the r17 fusion the rule fell out of two inner joins;
  * after it, it lives in an explicit `where(size(grams) > 0 AND
  * fp0 IS NOT NULL)` — this spec pins that behavior on a corpus
  * built to hit it, so a refactor that loses the filter (or turns it
  * into keep-with-empty-set) fails a test instead of silently
  * changing production answers on boilerplate-heavy crawls. */
class NgramDfDropSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark

  // per-suite managed temp root (ADVICE r17: repeated runs were
  // accumulating /tmp/ngram_df_* corpora); both corpora build under it
  // and afterAll removes the tree
  private val root = java.nio.file.Files.createTempDirectory("ngram_df_spec")

  override def afterAll(): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    super.afterAll()
  }

  test("pure-chrome docs drop out of the DF-filtered tier; " +
    "de-chromed prose near-dups still pair") {
    import spark.implicits._
    val chrome =
      "subscribe to our newsletter and follow us on social media today"
    val proseA = "the quick brown fox jumps over the lazy dog " +
      "near the river bank at dawn"
    val proseB = "the quick brown fox jumps over the lazy dog " +
      "near the river bank at dusk"
    // 9 docs; the chrome sentence rides on 7 of them (78% DF, far
    // over the 25% threshold), so every char-5/8-gram inside it is
    // hot. Docs 2 and 8 are the chrome sentence ALONE: every gram hot
    // on both alphabets -> out of the tier. Docs 0/1 share
    // near-identical prose after the chrome strips (same 100-char
    // length bucket, de-chromed J ~ 1), so they are the one true pair.
    val docs = Seq(
      (0L, s"$chrome $proseA"),
      (1L, s"$chrome $proseB"),
      (2L, chrome),
      (3L, s"$chrome unrelated words entirely different content one"),
      (4L, s"$chrome assorted completely other sentences here two"),
      (5L, s"$chrome more filler prose matching nothing else three"),
      (6L, "standalone document with no chrome and no duplicate twin"),
      (7L, "another independent text sharing nothing with anything"),
      // a SECOND pure-chrome doc: if the drop filter were lost, 2 and
      // 8 would co-block under the all-null fingerprint with empty
      // gram sets (0/0 jaccard) instead of leaving the tier — this
      // row is what makes the assertion able to fail
      (8L, chrome))
    val dir = java.nio.file.Files
      .createDirectories(root.resolve("drop")).toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang",
        "'spec' as source", "length(text) as n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = graft.text.TextQueries
      .dedupNgramDfAt(spark, dir, graft.text.TextQueries.NgramBlockCap,
        dfFrac = 0.25)
      .collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)),
      s"expected exactly the de-chromed prose pair (0,1), got " +
        out.mkString("[", ", ", "]"))
    val j = out.head.getDouble(2)
    assert(j >= 0.5, s"pair (0,1) jaccard $j below the tier's bar")
    assert(!pairs.exists(p => Set(p._1, p._2).exists(Set(2L, 8L))),
      "the pure-chrome docs must be out of the tier entirely")
  }

  test("empty hot census still pairs the prose near-dups via the " +
    "anti-join path") {
    import spark.implicits._
    // no sentence repeats often enough for ANY gram to clear the 25%
    // DF bar (10 docs, every phrase unique except the planted pair):
    // the census comes back empty, so the broadcast anti-join drops
    // nothing and the tier's one plan (this tier has no nHot dial)
    // must still emit exactly the planted near-dup pair — the edge
    // case the sf0.01/sf0.1/10x oracle gates never reach, here as a
    // fast in-suite regression net.
    val pA = "the quick brown fox jumps over the lazy dog at dawn " +
      "beside the shallow river crossing"
    val pB = "the quick brown fox jumps over the lazy dog at dusk " +
      "beside the shallow river crossing"
    val docs = Seq(
      (0L, pA), (1L, pB),
      (2L, "completely unrelated first filler document body"),
      (3L, "second standalone text with distinct working vocabulary"),
      (4L, "third free standing passage about something different"),
      (5L, "fourth solitary blurb covering other topics entirely"),
      (6L, "fifth loose paragraph of miscellaneous other phrases"),
      (7L, "sixth remaining snippet made of fresh material"),
      (8L, "seventh distinct passage without shared wording"),
      (9L, "eighth and final unique document closing the corpus"))
    val dir = java.nio.file.Files
      .createDirectories(root.resolve("empty-census")).toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang",
        "'spec' as source", "length(text) as n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = graft.text.TextQueries
      .dedupNgramDfAt(spark, dir, graft.text.TextQueries.NgramBlockCap,
        dfFrac = 0.25)
      .collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)),
      s"expected exactly the prose pair (0,1) with an empty census, " +
        s"got ${out.mkString("[", ", ", "]")}")
    assert(out.head.getDouble(2) >= 0.5,
      "pair (0,1) jaccard below the tier's bar with an empty census")
  }

  test("all-5-grams-hot docs with COLD boundary 8-grams drop (the " +
    "asymmetric case the explicit where() exists for)") {
    import spark.implicits._
    // DF(8-gram) <= DF(any contained 5-gram), so a doc can have every
    // 5-gram hot while some 8-grams stay cold — it then survives the
    // gather with a VALID fingerprint but an EMPTY similarity set,
    // and without the where() two such duplicates pair through the
    // kernel's (ni=0, den=0) emission as a null-jaccard row the
    // DuckDB oracle (whose kept-join drops them) never produces.
    // Corpus: X = c1 ++ c2 (two chrome sentences, no separator). c1
    // and c2 each ride on 4 of 12 docs (DF 4 > 12*0.25 = 3 -> hot),
    // and the 8-char junction fragment F rides on X, X2, W1, W2 (4 ->
    // X's boundary-crossing 5-grams all hot, since a 5-window spans
    // at most 4+1 chars of either side, always inside F). X's
    // boundary 8-grams span up to 7 chars of one side — they exist
    // only in X and X2 (DF 2 -> cold), so fp0/fp1 are non-null.
    val c1 = "alpha beta gamma delta epsilon zeta eta theta"
    val c2 = "one two three four five six seven eight nine ten"
    val x = c1 + c2
    val f = c1.takeRight(4) + c2.take(4)
    val pA = "the quick brown fox jumps over the lazy dog at dawn"
    val pB = "the quick brown fox jumps over the lazy dog at dusk"
    val docs = Seq(
      (0L, x), (1L, x),                       // the asymmetric dups
      (2L, s"$c1 plus a unique tail sentence"),
      (3L, s"$c1 and another unique trailer"),
      (4L, s"$c2 with its own unique suffix"),
      (5L, s"$c2 and more unique trailing text"),
      (6L, s"menu $f footer entry"),          // junction fragment
      (7L, s"header $f sidebar block"),
      (8L, pA), (9L, pB),                     // control near-dup pair
      (10L, "completely unrelated filler document number ten"),
      (11L, "yet another unrelated filler text eleven"))
    val dir = java.nio.file.Files
      .createDirectories(root.resolve("asym")).toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang",
        "'spec' as source", "length(text) as n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = graft.text.TextQueries
      .dedupNgramDfAt(spark, dir, graft.text.TextQueries.NgramBlockCap,
        dfFrac = 0.25)
      .collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((8L, 9L)),
      s"expected only the control prose pair (8,9) — all-chrome-" +
        s"similarity docs 0/1 must drop, got " +
        out.mkString("[", ", ", "]"))
  }
}
