package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordTokens: the compiled tokenizer kernel against the reference token
  * law `filter(split(lower(coalesce(t, '')), '[^a-z0-9]+'), t -> length(t) > 0)`,
  * row by row, generated and interpreted.
  */
class WordTokensSpec extends SparkSpec {
  import spark.implicits._

  private def reference(text: org.apache.spark.sql.Column) =
    filter(split(lower(coalesce(text, lit(""))), "[^a-z0-9]+"), t => length(t) > 0)

  private val hand: Seq[String] = Seq(
    "The Quick BROWN fox, jumps over 42 lazy-dogs; v2.0 (beta)!",
    "MiXeD CaSe and Digits123abc 9to5 X-Ray_42",
    "--leading and trailing--",
    "  spaced\tout\nlines\r\n",
    "...!!!---", // separators only
    "",
    " ",
    "a",
    "Z9",
    "caf\u00e9 na\u00efve Gr\u00f6\u00dfe fa\u00e7ade", // multi-byte letters separate
    "\u65e5\u672c\u8a9e mixed with ascii",
    "emoji \ud83d\ude00 splits\ud83d\ude00here",
    "Kelvin 5\u212A run \u212Aelvin", // KELVIN SIGN lowercases to ASCII k
    "\u0130stanbul D\u0130YARBAKIR", // LATIN CAPITAL I WITH DOT ABOVE
    "\u212Bngstr\u00f6m \u017fong \u0131d", // ANGSTROM SIGN, long s, dotless i
    "ABC\u00c0DEF", // upper-case non-ASCII between ASCII runs
    "nbsp\u00a0em\u2003space")

  private def randomText(rnd: scala.util.Random): String = {
    val pool = Vector("a", "Z", "q", "M", "0", "7", " ", "-", ".", ",", "_", "\t",
      "\u00e9", "\u00df", "\u03a9", "\u65e5", "\ud83d\ude00", "\u212A", "\u0130",
      "\u212B", "\u017f", "\u0131", "\u00a0", "\u00c0")
    Iterator.fill(5000)(pool(rnd.nextInt(pool.size))).mkString
  }

  private def cases: DataFrame = {
    val rnd = new scala.util.Random(11)
    val texts: Seq[Option[String]] =
      hand.map(Some(_)) ++ Seq(None) ++
        Seq.fill(40)(Some(randomText(rnd).take(1 + rnd.nextInt(400)))) :+
        Some(randomText(rnd))
    // through a shuffle, so the projection runs in a real (generated or
    // interpreted) stage instead of folding over the local relation
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text").repartition(3)
  }

  /** Compare kernel and reference on every row; returns the kernel
    * query's executed plan. The two run as separate queries: in one
    * projection, the reference's interpreted lambda would keep the
    * kernel out of whole-stage codegen.
    */
  private def check(df: DataFrame): String = {
    def run(tokens: org.apache.spark.sql.Column) = {
      val q = df.select(col("id"), tokens)
      (q.collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap,
        q.queryExecution.executedPlan.toString)
    }
    val (kernel, plan) = run(TextExpressions.wordTokens(col("text")))
    val (ref, _) = run(reference(col("text")))
    assert(kernel.size == hand.size + 42 && kernel.keySet == ref.keySet)
    kernel.foreach { case (id, toks) =>
      assert(toks == ref(id), s"row $id: kernel $toks vs reference ${ref(id)}")
    }
    plan
  }

  test("kernel equals the reference token law row by row (generated code)") {
    val plan = check(cases)
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("word_tokens(")),
      s"the kernel must run inside whole-stage codegen:\n$plan")
  }

  test("kernel equals the reference token law row by row (interpreted)") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check(cases)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("null and separator-only input give an empty array, never null; SQL surface agrees") {
    val r = Seq[Option[String]](None, Some(""), Some("--- ..."), Some("Ab-C"))
      .toDF("text").select(TextExpressions.wordTokens(col("text"))).collect()
      .map(_.getSeq[String](0))
    assert(r.toSeq == Seq(Seq.empty, Seq.empty, Seq.empty, Seq("ab", "c")))
    assert(spark.sql("SELECT word_tokens('Hello, \u212Aelvin!')").head.getSeq[String](0) ==
      Seq("hello", "kelvin"))
  }

  test("driver-side Bm25.tokenize agrees with the kernel on ASCII text") {
    val texts = hand.filter(_.forall(_ < 128))
    val got = texts.toDF("text").select(TextExpressions.wordTokens(col("text")))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(got == texts.map(graft.search.Bm25.tokenize))
  }
}
