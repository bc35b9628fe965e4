package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TextAnalysisSpec extends SparkSuite {
  import spark.implicits._

  test("language id picks the dominant stopword language") {
    val d = Seq(
      (1, "the cat sat of the mat and it is that for sure"),
      (2, "der hund ist ein tier und das ist nicht schlecht"),
      (3, "xyzzy plugh qwerty")).toDF("id", "text")
    val out = d.select(col("id"), TextAnalysis.languageId(col("text")).as("l"))
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "en", 2 -> "de", 3 -> "und"))
  }

  test("quality features compute word stats") {
    val d = Seq((1, "one two three four five six")).toDF("id", "text")
    val r = TextAnalysis.qualityFeatures(d, "text")
      .select("n_words", "uniq_word_ratio", "quality_keep")
      .as[(Long, Double, Boolean)].head()
    assert(r._1 == 6 && r._2 == 1.0 && r._3)
  }

  test("token counts: whitespace and bpe estimate") {
    val d = Seq((1, "abcd efgh")).toDF("id", "text")
    val r = TextAnalysis.tokenCounts(d, "text")
      .select("n_tokens_ws", "n_tokens_bpe").as[(Long, Long)].head()
    assert(r == ((2L, 3L))) // 9 chars / 4 → ceil = 3
  }

  test("packConcat materializes shards in id order with separators") {
    import spark.implicits._
    // budget 10 tokens; texts of 16 chars = 4 tokens each → docs 1-2 in
    // shard 0 (0 and 4 tokens before), doc 3 starts at 8 < 10 → shard 0,
    // doc 4 at 12 → shard 1
    val t = "x" * 16
    val d = Seq((1L, t, "g"), (2L, t, "g"), (3L, t, "g"), (4L, t, "g"),
      (10L, t, "h")).toDF("doc_id", "text", "grp")
    val out = TextAnalysis.packConcat(d, "doc_id", "text", "grp", budgetTokens = 10L)
      .as[(String, Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out(("g", 0L)) == (s"$t <eos> $t <eos> $t", 3L, 12L))
    assert(out(("g", 1L)) == (t, 1L, 4L))
    assert(out(("h", 0L)) == (t, 1L, 4L))
    // member order inside a pack is id order even when input order isn't
    val shuffled = Seq((2L, "bb", "g"), (1L, "aa", "g")).toDF("doc_id", "text", "grp")
    val packed = TextAnalysis.packConcat(shuffled, "doc_id", "text", "grp", 100L)
      .select("packed_text").as[String].collect().head
    assert(packed == "aa <eos> bb")
  }

  test("wordRarity: corpus unigram counts score docs with exact integers") {
    import spark.implicits._
    // corpus counts: the=3, cat=2, sat=1, dog=1, ran=1
    val d = Seq(
      (1L, "the cat sat"),
      (2L, "the cat"),
      (3L, "the dog ran")).toDF("doc_id", "text")
    val byId = TextAnalysis.wordRarity(d, "doc_id", "text", rareThreshold = 1)
      .select("doc_id", "n_words", "sum_freq", "n_rare", "mean_freq", "rare_ratio")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: 3+2+1=6, one rare (sat); doc 2: 3+2=5, none rare
    assert(byId(1L) == (1L, 3L, 6L, 1L, 2.0, 0.333333))
    assert(byId(2L) == (2L, 2L, 5L, 0L, 2.5, 0.0))
    assert(byId(3L) == (3L, 3L, 5L, 2L, 1.666667, 0.666667))
    // empty/whitespace-only/NULL docs score ZERO-FILLED (null ratios) —
    // a corpus row must never silently vanish from scoring (the repo-wide
    // Bm25/NaiveBayes/LanguageModel/Dsir convention)
    val e = Seq((1L, "x y"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
      .unionByName(Seq(4L).toDF("doc_id").withColumn("text",
        org.apache.spark.sql.functions.lit(null).cast("string")))
    val er = TextAnalysis.wordRarity(e, "doc_id", "text")
      .select("doc_id", "n_words").as[(Long, Long)].collect().toMap
    assert(er == Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    assert(TextAnalysis.wordRarity(e, "doc_id", "text")
      .filter("doc_id = 2 AND mean_freq IS NULL AND rare_ratio IS NULL").count() == 1)
  }

  test("fingerprint is whitespace/case insensitive") {
    val d = Seq((1, "Hello   World"), (2, "hello world"), (3, "different")).toDF("id", "text")
    val fps = d.select(TextAnalysis.fingerprint(col("text")).as("fp")).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("chunking: overlapping windows cover the text, short tail kept") {
    val d = Seq((1L, "abcdefghij")).toDF("doc_id", "text") // 10 chars
    val out = TextAnalysis.chunk(d, "doc_id", "text", chunkChars = 4, overlapChars = 1)
      .select("chunk_idx", "chunk_text").as[(Int, String)].collect().toSeq.sortBy(_._1)
    // stride 3: [abcd, defg, ghij] — ceil((10-1)/3) = 3 chunks
    assert(out == Seq((0, "abcd"), (1, "defg"), (2, "ghij")))
    // reconstruction: stripping each chunk's overlap prefix rebuilds the doc
    val rebuilt = out.head._2 + out.tail.map(_._2.drop(1)).mkString
    assert(rebuilt == "abcdefghij")
    // a doc shorter than one chunk yields exactly one (short) chunk
    val short = TextAnalysis.chunk(Seq((2L, "xy")).toDF("doc_id", "text"), "doc_id", "text", 4, 1)
      .select("chunk_text").as[String].collect().toSeq
    assert(short == Seq("xy"))
  }

  test("repetition: most frequent bigram and its document fraction") {
    // "spam ham" occurs 3× of 5 bigrams; normal doc has all-unique bigrams
    val d = Seq(
      (1L, "spam ham spam ham spam ham"),
      (2L, "the quick brown fox")).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(d, "doc_id", "text", n = 2)
      .as[(Long, String, Long, Double)].collect().sortBy(_._1)
    assert(out(0) == ((1L, "spam ham", 3L, 0.6)))
    assert(out(1)._3 == 1L && out(1)._4 == 0.333333) // all-unique bigrams, 1 of 3
    // a doc SHORTER than n words has no n-grams and emits NO row — the
    // earlier truncated-window clamp scored it top_fraction 1.0, so a
    // Gopher-style repetition filter dropped every short doc as boilerplate
    val short = Seq((1L, "hello"), (2L, "two words here"), (3L, "")).toDF("doc_id", "text")
    val sr = TextAnalysis.repetition(short, "doc_id", "text", n = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(sr == Set(2L), sr.toString)
  }

  test("packing: contiguous per-group fill, docs never split, one shuffle") {
    // budget 10 tokens; texts sized so chars/4 gives exact counts.
    // group a: 6+6 tokens → doc 2 STARTS at token 6 (still shard 0, the
    // overhang case), doc 3 starts at 12 → shard 1. group b independent.
    def txt(tokens: Int) = "x" * (tokens * 4)
    val d = Seq(
      (1L, "a", txt(6)), (2L, "a", txt(6)), (3L, "a", txt(2)),
      (4L, "b", txt(9)), (5L, "b", txt(3))).toDF("doc_id", "source", "text")
    val out = TextAnalysis.packing(d, "doc_id", "text", "source", 10L)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 0L))
    // shard ids are dense and non-decreasing in doc order within a group;
    // each shard's sum minus its LAST doc stays under budget (the only
    // overhang a no-split contiguous fill can produce)
    val rows = TextAnalysis.packing(d, "doc_id", "text", "source", 10L)
      .select("source", "shard", "doc_id", "n_tok")
      .as[(String, Long, Long, Long)].collect().toSeq
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._3)
      assert(sorted.init.map(_._4).sum < 10L, sorted.toString)
    }
    // scale shape: ONE exchange (hash on the group column), no global sort
    val plan = TextAnalysis.packing(d, "doc_id", "text", "source", 10L)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length == 2, plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("htmlToText: golden cases for script/style/comment/tags/entities/whitespace") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def clean(html: String): String =
      Seq(html).toDF("h").select(TextAnalysis.htmlToText(col("h")).as("c"))
        .collect()(0).getString(0)
    assert(clean("<p>hello <b>world</b></p>") == "hello world")
    assert(clean("<SCRIPT>var a = \"<p>x</p>\";</SCRIPT>keep") == "keep")
    assert(clean("<style media=\"all\">h1 { x: \"<i>\" }</style>t") == "t")
    assert(clean("a<!-- <b>gone</b>\nstill gone -->b") == "a b")
    assert(clean("x &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp; y") ==
      "x <tag> \"q\" 's' & y")
    // the documented one-pass quirk: &amp;lt; decodes to &lt;, not <
    assert(clean("&amp;lt;") == "&lt;")
    assert(clean("  a\t\tb\r\nc  ") == "a b c")
    // naive-stripper semantics, pinned: a bare '<'..'>' SPAN is eaten (the
    // reason real corpus text must be entity-escaped before embedding);
    // a '<' with no closing '>' survives
    assert(clean("5 < 6 and 7 > 3") == "5 3")
    assert(clean("5 < 6") == "5 < 6")
  }

  test("gopher rules: each signal hand-checked on a crafted document") {
    val text = "• the cat\n- of mat...\nplain # line\nplain # line"
    val d = Seq((1L, text)).toDF("id", "text")
    val r = TextAnalysis.gopherRules(d, "text").head()
    // words (space-split): ["•","the","cat\n-","of","mat...\nplain","#","line\nplain","#","line"] = 9
    assert(r.getAs[Long]("n_words") == 9L)
    // lines: 4; starts: "•..." and "- ..." -> 2/4; ends "...": line 2 -> 1/4
    assert(r.getAs[Double]("bullet_ratio") == 0.5)
    assert(r.getAs[Double]("ellipsis_ratio") == 0.25)
    // symbols: two '#' plus one '...' over 9 words
    assert(r.getAs[Double]("symbol_ratio") ==
      BigDecimal(3.0 / 9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // alphabetic words: all but "•" and the two "#" -> 6/9
    assert(r.getAs[Double]("alpha_ratio") ==
      BigDecimal(6.0 / 9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // stopword hits: only "the" and "of" (others absent)
    assert(r.getAs[Long]("stopword_hits") == 2L)
    // duplicate lines: "plain # line" twice -> 1 - 3/4
    assert(r.getAs[Double]("dup_line_ratio") == 0.25)
    assert(!r.getAs[Boolean]("gopher_keep")) // fails the 50-word floor
  }

  test("gopher keep: a clean document passes; each violated bound fails it") {
    val clean50 = ("the quick brown fox jumps over lazy dogs with " * 6).trim
    def keep(t: String, minW: Int = 50) =
      TextAnalysis.gopherRules(Seq((1L, t)).toDF("id", "text"), "text",
        minWords = minW).head().getAs[Boolean]("gopher_keep")
    assert(keep(clean50))                       // 54 words, all rules pass
    assert(!keep(clean50 + " ###########"))     // symbol ratio blows the cap
    assert(!keep("no stopwords here at all", minW = 1)) // < 2 Gopher stopwords
    assert(!keep(("a " * 60).trim, minW = 1))   // mean word length below 3
  }

  test("stopwordHits regex rewrite is row-identical to the HOF form") {
    // adversarial rows: adjacent stopwords (lookahead must not consume the
    // boundary space), prefix words (theory != the), repeats (multiplicity,
    // not presence), double spaces (empty tokens), newline-embedded tokens
    // (words split on SINGLE spaces), first/last-word boundaries, empty, null
    val rows = Seq(
      "the a of and", "theory theocracy other", "the the the",
      "the  the", "the\nend of it", "a", "of", "", "no stop words here",
      "der und die das the", "el la de que y", null.asInstanceOf[String])
      .toDF("text")
    for (lang <- TextAnalysis.stopwords.keys.toSeq.sorted) {
      val diff = rows.select(
        TextAnalysis.stopwordHitsHof(col("text"), lang).as("hof"),
        TextAnalysis.stopwordHitsRegex(col("text"), lang).as("re"),
        col("text"))
        .filter(!(col("hof") <=> col("re")))
      assert(diff.isEmpty,
        s"[$lang] regex != HOF on: ${diff.collect().mkString("; ")}")
    }
  }

  test("gopher line/alpha signals are row-identical to the higher-order forms") {
    // the original higher-order filter() forms (CodegenFallback, hence
    // replaced) are the reference; the shipped literal-replace/regex forms
    // must match them row for row on the fixture corpus — given bullet-
    // and ellipsis-led lines at the fixture's frequent " a " and " the "
    // — and on adversarial rows the fixture
    // vocabulary cannot produce ("x...\ny" is ONE space-split word that a
    // \n-normalizing draft double-counted; bullets and ellipses at text
    // edges; all-symbol words; empty text)
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), replace(replace(col("text"), lit(" a "),
        lit("\n• ")), lit(" the "), lit("...\n")).as("text"))
    val adversarial = Seq(
      (900000001L, "x...\ny plain words here"),
      (900000002L, "• leads\n- dashes\nz...\nw..."),
      (900000003L, "## #### ##"),
      (900000004L, "tail..."),
      (900000005L, ""),
      (900000006L, "a...\nb...\nc...\nd")).toDF("doc_id", "text")
    val base = docs.unionByName(adversarial)
    val signals = Seq("doc_id", "bullet_ratio", "ellipsis_ratio", "alpha_ratio")
    val shipped = TextAnalysis.gopherRules(base, "text").select(signals.map(col): _*)
    val t = col("text")
    val ws = split(t, " ")
    val lines = split(t, "\n")
    val hof = base
      .withColumn("bullet_ratio", round(size(filter(lines, l =>
        l.startsWith("•") || l.startsWith("- "))).cast("double") / size(lines), 6))
      .withColumn("ellipsis_ratio", round(size(filter(lines,
        _.endsWith("..."))).cast("double") / size(lines), 6))
      .withColumn("alpha_ratio", round(size(filter(ws,
        _.rlike("[A-Za-z]"))).cast("double") / size(ws), 6))
      .select(signals.map(col): _*)
    assert(docs.filter(col("text").contains("...\n") &&
      col("text").contains("\n• ")).count() > 100)
    val diff = shipped.exceptAll(hof).unionByName(hof.exceptAll(shipped))
    assert(diff.isEmpty, s"shipped != HOF on: ${diff.collect().mkString("; ")}")
  }

  test("NULL text gets definite quality/gopher flags, never a vanishing NULL") {
    val rows = Seq((1L, "the a of and to in is it that for real words here"),
      (2L, null.asInstanceOf[String]), (3L, "")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityFeatures(rows, "text")
    val g = TextAnalysis.gopherRules(rows, "text")
    // keep + !keep must PARTITION the corpus — a NULL flag fails both filters
    assert(q.filter(col("quality_keep")).count() +
      q.filter(!col("quality_keep")).count() == 3)
    assert(g.filter(col("gopher_keep")).count() +
      g.filter(!col("gopher_keep")).count() == 3)
    assert(q.filter(col("doc_id") >= 2).select("quality_keep")
      .collect().forall(!_.getBoolean(0)))
  }
}
