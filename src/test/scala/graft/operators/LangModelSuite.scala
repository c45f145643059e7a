package graft.operators

import graft.SparkSpec

class LangModelSuite extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the cat sat"),
    (2L, "the cat ran"),
    (3L, "the dog sat"),
    (4L, "zz")               // single token: no bigrams → no output row
  ).toDF("doc_id", "text")

  /** Independent scalar reimplementation of the documented formula. */
  private def expected(
      train: Seq[(Long, String)], docs: Seq[(Long, String)]): Map[Long, (Long, Double)] = {
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val trainToks = train.flatMap { case (_, t) => toks(t) }
    val uni = trainToks.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val bi = train.flatMap { case (_, t) => toks(t).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))) }
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val v = uni.size.toLong
    docs.flatMap { case (id, t) =>
      val pairs = toks(t).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))).toSeq
      if (pairs.isEmpty) None
      else {
        val lps = pairs.map { p =>
          val cb = bi.getOrElse(p, 0L)
          val cu = uni.getOrElse(p._1, 0L)
          math.floor(math.log((cb + 1.0) / (cu + v)) * 1e4).toLong
        }
        Some(id -> (pairs.size.toLong,
          math.floor(lps.sum * 1.0 / pairs.size) / 1e4))
      }
    }.toMap
  }

  test("self-scoring matches an independent scalar implementation exactly") {
    val docs = corpus.as[(Long, String)].collect().toSeq
    val got = LangModel.score(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expected(docs, docs))
  }

  test("common continuations score higher than rare ones") {
    val got = LangModel.score(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // "the cat sat": both bigrams seen twice+ vs "the dog sat" ("dog sat" unique)
    assert(got(1L) > got(3L))
  }

  test("scoreAgainst holds the model fixed: unseen text gets the smoothed floor") {
    val novel = Seq((9L, "qq ww ee")).toDF("doc_id", "text")
    val docs = corpus.as[(Long, String)].collect().toSeq
    val got = LangModel.scoreAgainst(corpus, novel, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expected(docs, Seq((9L, "qq ww ee"))))
    // every bigram unseen, every unigram unseen → logp = floor4(ln(1/V))
    val v = docs.flatMap(_._2.split("\\s+")).distinct.size
    val floorLp = math.floor(math.log(1.0 / v) * 1e4) / 1e4
    assert(got(9L)._2 == floorLp)
  }

  test("loadLmModel maxEntries guard: loud above the cap, silent below") {
    // 100 TB audit: the pruned-model collect is bounded by the count
    // cutoffs, but nothing FORCES a caller to prune — the guard must
    // refuse to collect an oversized model with an actionable message
    // instead of OOMing the driver
    val docs = (0L until 10L).map(i => (i, s"alpha beta gamma tok$i"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lm_cap_").toString
    LangModel.buildLmIndex(docs, "text", path,
      minBigramCount = 1, minUnigramCount = 1)
    val err = intercept[IllegalArgumentException] {
      LangModel.loadLmModel(spark, path, maxEntries = 1L)
    }
    assert(err.getMessage.contains("raise the count cutoffs"))
    // below the cap: silent
    LangModel.loadLmModel(spark, path)
  }

  test("model memory guards count exact entries from parquet footers, with no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = (0L until 10L).map(i => (i, s"alpha beta gamma delta tok$i"))
      .toDF("doc_id", "text")
    def dir(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val lm = dir("graft_lm_guard_")
    LangModel.buildLmIndex(docs, "text", lm,
      minBigramCount = 1, minUnigramCount = 1, minTrigramCount = 1)
    val kn = dir("graft_kn_guard_")
    LangModel.buildKnIndex(docs, "text", kn, minBigramCount = 1, minUnigramCount = 1)
    val lmN = dir("graft_lmn_guard_")
    LangModel.buildLmIndexN(docs, "text", lmN, order = 4, minCount = 1)
    def rows(path: String, tables: Seq[String]): Long = {
      val vdir = graft.sources.IndexIO.resolve(spark, path)
      tables.map(t => spark.read.parquet(s"$vdir/$t").count()).sum
    }
    val guards: Seq[(String, Long, Long => Any)] = Seq(
      ("lm", rows(lm, Seq("bigrams", "unigrams")),
        n => LangModel.loadLmModel(spark, lm, maxEntries = n)),
      ("lm3", rows(lm, Seq("trigrams", "bigrams", "unigrams")),
        n => LangModel.loadLmModel3(spark, lm, maxEntries = n)),
      ("kn", rows(kn, Seq("bigrams", "unigrams", "fw_types", "bw_types")),
        n => LangModel.loadKnModel(spark, kn, maxEntries = n)),
      ("lmN", rows(lmN, (1 to 4).map(k => s"grams_$k")),
        n => LangModel.loadLmModelN(spark, lmN, maxEntries = n)))
    val sc = spark.sparkContext
    for ((name, entries, load) <- guards) {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      }
      sc.addSparkListener(l)
      try {
        // one entry over the exact count: loud, before any collect job
        val err = intercept[IllegalArgumentException](load(entries - 1))
        assert(err.getMessage.contains(s"$entries entries"), s"$name: ${err.getMessage}")
        org.apache.spark.graft.runtime.ListenerDrain.drain(sc)
      } finally sc.removeSparkListener(l)
      assert(jobs.get == 0, s"$name: ${jobs.get} Spark jobs before the guard fired")
      load(entries) // exactly at the cap: silent
    }
  }

  test("scoreWithModel (cutoffs=1) is bit-equal to scoreAgainst") {
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(3 + (i % 7).toInt)(s"w${(i * 13) % 9}").mkString(" ") +
        " the cat sat on the mat near the dog " + s"tail${i % 5}")
    }.toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lm_idx_").toString
    LangModel.buildLmIndex(docs, "text", path,
      minBigramCount = 1, minUnigramCount = 1)
    val model = LangModel.loadLmModel(spark, path)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaKernel = asMap(LangModel.scoreWithModel(docs, "doc_id", "text", model))
    val viaBatch = asMap(LangModel.score(docs, "doc_id", "text"))
    assert(viaKernel == viaBatch)
  }

  /** Independent scalar reimplementation of the order-3 stupid-backoff
    * formula (same double evaluation order as the kernel and batch).
    */
  private def expected3(
      train: Seq[(Long, String)], docs: Seq[(Long, String)]): Map[Long, (Long, Double)] = {
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val trainToks = train.flatMap { case (_, t) => toks(t) }
    val uni = trainToks.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val bi = train.flatMap { case (_, t) => toks(t).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))) }
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val tri = train.flatMap { case (_, t) =>
      toks(t).sliding(3).filter(_.size == 3).map(p => (p(0), p(1), p(2))) }
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val v = uni.size.toLong
    val nTok = trainToks.size.toLong
    docs.flatMap { case (id, t) =>
      val tris = toks(t).sliding(3).filter(_.size == 3).map(p => (p(0), p(1), p(2))).toSeq
      if (tris.isEmpty) None
      else {
        val lps = tris.map { case (w1, w2, w3) =>
          val c3 = tri.getOrElse((w1, w2, w3), 0L)
          val c12 = bi.getOrElse((w1, w2), 0L)
          val x =
            if (c3 > 0 && c12 > 0) c3 * 1.0 / c12
            else {
              val c23 = bi.getOrElse((w2, w3), 0L)
              val c2 = uni.getOrElse(w2, 0L)
              if (c23 > 0 && c2 > 0) 0.4 * c23 / c2
              else 0.16 * (uni.getOrElse(w3, 0L) + 1.0) / (nTok + v)
            }
          math.floor(math.log(x) * 1e4).toLong
        }
        Some(id -> (tris.size.toLong,
          math.floor(lps.sum * 1.0 / tris.size) / 1e4))
      }
    }.toMap
  }

  test("order-3 self-scoring matches an independent scalar implementation") {
    val docs = corpus.as[(Long, String)].collect().toSeq
    val got = LangModel.score3(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expected3(docs, docs))
    // doc 4 ("zz") has no trigram → no row
    assert(!got.contains(4L))
  }

  test("order-3 backoff fires per branch: trigram hit, bigram backoff, floor") {
    val train = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "b c d")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "a b c"),   // trigram seen: x = c3/c12
      (11L, "x b c"),   // trigram unseen, (b c) seen: x = .4*c23/c2
      (12L, "x y z")    // everything unseen: terminal floor
    ).toDF("doc_id", "text")
    val trainSeq = train.as[(Long, String)].collect().toSeq
    val docsSeq = docs.as[(Long, String)].collect().toSeq
    val got = LangModel.scoreAgainst3(train, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expected3(trainSeq, docsSeq))
    // branch sanity: seen trigram outranks backoff, backoff outranks floor
    assert(got(10L)._2 > got(11L)._2 && got(11L)._2 > got(12L)._2)
  }

  test("scoreWithModel3 (cutoffs=1) is bit-equal to scoreAgainst3; stream gate matches") {
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(3 + (i % 7).toInt)(s"w${(i * 13) % 9}").mkString(" ") +
        " the cat sat on the mat near the dog " + s"tail${i % 5}")
    }.toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lm3_idx_").toString
    LangModel.buildLmIndex(docs, "text", path,
      minBigramCount = 1, minUnigramCount = 1, minTrigramCount = 1)
    val model = LangModel.loadLmModel3(spark, path)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaKernel = asMap(LangModel.scoreWithModel3(docs, "doc_id", "text", model))
    val viaBatch = asMap(LangModel.score3(docs, "doc_id", "text"))
    assert(viaKernel == viaBatch)
    // the streaming gate form == batch filtered at the same grid cut
    val thr = viaBatch.values.map(_._2).toSeq.sorted.apply(viaBatch.size / 2)
    val gated = asMap(graft.streaming.Streaming.lmGate3(
      spark, docs, "doc_id", "text", path, thr)
      .select("doc_id", "n_trigrams", "avg_logp"))
    assert(gated == viaBatch.filter { case (_, (_, lp)) => lp >= thr })
  }

  test("order-3 differential fuzz: Spark == scalar oracle on random corpora") {
    val rnd = new scala.util.Random(23)
    val words = Seq("a", "b", "c", "the", "cat", "sat", "ran", "é")
    for (trial <- 0 until 6) {
      val train = (0L until 12L).map { i =>
        (i, Seq.fill(1 + rnd.nextInt(9))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val docs = (100L until 110L).map { i =>
        (i, Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val got = LangModel.scoreAgainst3(
          train.toDF("doc_id", "text"), docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == expected3(train, docs), s"trial $trial diverged")
    }
  }

  test("order-3 pruning: pruned trigrams back off, terminal floor stays unpruned") {
    // "a b c" x3 survives cutoff 2; "b c d" x1 prunes -> its trigram
    // backs off to the (c d) bigram, which also prunes -> floor
    val train = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "b c d")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lm3_idx2_").toString
    LangModel.buildLmIndex(train, "text", path,
      minBigramCount = 2, minUnigramCount = 1, minTrigramCount = 2)
    val model = LangModel.loadLmModel3(spark, path)
    assert(model.vocab == 4 && model.nTokens == 12)
    val probe = Seq((9L, "b c d")).toDF("doc_id", "text")
    val got = LangModel.scoreWithModel3(probe, "doc_id", "text", model)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    // trigram (b,c,d) pruned; bigram (c,d) pruned but (b,c) survives
    // (c=4); backoff needs BOTH c23=(c,d) and c2=(c): (c,d) pruned ->
    // terminal floor with cu(d)=1: 0.16 * 2 / (12 + 4)
    val lp = math.floor(math.log(0.16 * (1 + 1.0) / (12 + 4)) * 1e4).toLong
    assert(got == (1L, math.floor(lp * 1.0 / 1) / 1e4))
  }

  /** Independent scalar reimplementation of the ORDER-N stupid-backoff
    * formula (generic: tuple keys, repeated-product factors — same
    * double evaluation order as the kernel and batch plan).
    */
  private def expectedN(
      train: Seq[(Long, String)], docs: Seq[(Long, String)],
      order: Int): Map[Long, (Long, Double)] = {
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val trainToks = train.flatMap { case (_, t) => toks(t) }
    val grams: Map[Int, Map[Seq[String], Long]] = (1 to order).map { k =>
      k -> train.flatMap { case (_, t) => toks(t).sliding(k).filter(_.size == k) }
        .groupBy(identity).map { case (g, o) => (g: Seq[String]) -> o.size.toLong }
    }.toMap
    val v = grams(1).size.toLong
    val nTok = trainToks.size.toLong
    val factors = new Array[Double](order)
    factors(0) = 1.0
    for (j <- 1 until order) factors(j) = factors(j - 1) * 0.4
    docs.flatMap { case (id, t) =>
      val ws = toks(t).sliding(order).filter(_.size == order).toSeq
      if (ws.isEmpty) None
      else {
        val lps = ws.map { g =>
          var x = 0.0
          var hit = false
          var j = 0
          while (j <= order - 2 && !hit) {
            val cn = grams(order - j).getOrElse(g.drop(j), 0L)
            val cd = grams(order - j - 1).getOrElse(g.slice(j, order - 1), 0L)
            if (cn > 0 && cd > 0) { x = factors(j) * cn / cd; hit = true }
            j += 1
          }
          if (!hit)
            x = factors(order - 1) * (grams(1).getOrElse(Seq(g.last), 0L) + 1.0) / (nTok + v)
          math.floor(math.log(x) * 1e4).toLong
        }
        Some(id -> (ws.size.toLong, math.floor(lps.sum * 1.0 / ws.size) / 1e4))
      }
    }.toMap
  }

  test("order-N (4) self-scoring matches the scalar implementation") {
    val four = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "b c d e a b"),
      (4L, "x y")).toDF("doc_id", "text")
    val docs = four.as[(Long, String)].collect().toSeq
    val got = LangModel.scoreN(four, "doc_id", "text", order = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expectedN(docs, docs, 4))
    assert(!got.contains(4L)) // < 4 tokens: no 4-gram, no row
  }

  test("order-N differential fuzz: batch plan == kernel == scalar oracle") {
    val rnd = new scala.util.Random(29)
    val words = Seq("a", "b", "c", "the", "cat", "sat", "ran", "é")
    for (trial <- 0 until 4) {
      val order = 3 + (trial % 2) // exercise N=3 and N=4
      val train = (0L until 12L).map { i =>
        (i, Seq.fill(1 + rnd.nextInt(10))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val docs = (100L until 110L).map { i =>
        (i, Seq.fill(rnd.nextInt(9))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val oracle = expectedN(train, docs, order)
      val got = LangModel.scoreAgainstN(
          train.toDF("doc_id", "text"), docs.toDF("doc_id", "text"),
          "doc_id", "text", order)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == oracle, s"trial $trial (order $order) batch diverged")
      // serving kernel on the UNPRUNED persisted model: bit-equal too
      val path = java.nio.file.Files
        .createTempDirectory(s"graft_lmn_fuzz_${trial}_").toString
      LangModel.buildLmIndexN(train.toDF("doc_id", "text"), "text", path,
        order, minCount = 1)
      val model = LangModel.loadLmModelN(spark, path)
      assert(model.order == order)
      val viaKernel = LangModel.scoreWithModelN(
          docs.toDF("doc_id", "text"), "doc_id", "text", model)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(viaKernel == oracle, s"trial $trial (order $order) kernel diverged")
    }
  }

  /** Independent scalar reimplementation of the interpolated-KN
    * formula (same paren/double order as the plan and the SQL oracle).
    */
  private def expectedKN(
      train: Seq[(Long, String)], docs: Seq[(Long, String)]): Map[Long, (Long, Double)] = {
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val trainToks = train.flatMap { case (_, t) => toks(t) }
    val uni = trainToks.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val biAll = train.flatMap { case (_, t) =>
      toks(t).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))) }
    val bi = biAll.groupBy(identity).map { case (p, g) => p -> g.size.toLong }
    val fw = bi.keys.groupBy(_._1).map { case (w, g) => w -> g.size.toLong }
    val bw = bi.keys.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    val b = bi.size.toLong
    val v = uni.size.toLong
    docs.flatMap { case (id, t) =>
      val pairs = toks(t).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))).toSeq
      if (pairs.isEmpty) None
      else {
        val lps = pairs.map { case (w1, w2) =>
          val pc = (bw.getOrElse(w2, 0L) + 1.0) / (b + v)
          val x = uni.get(w1) match {
            case Some(cu) =>
              (math.max(bi.getOrElse((w1, w2), 0L) - 0.75, 0.0) / cu) +
                ((0.75 * fw.getOrElse(w1, 0L) / cu) * pc)
            case None => pc
          }
          math.floor(math.log(x) * 1e4).toLong
        }
        Some(id -> (pairs.size.toLong, math.floor(lps.sum * 1.0 / pairs.size) / 1e4))
      }
    }.toMap
  }

  test("interpolated KN matches the scalar implementation; continuation beats frequency") {
    // "sf" follows many different contexts; "beans" is frequent but
    // only ever follows "baked" — KN's continuation term must score
    // an unseen "X sf" above an unseen "X beans"
    val train = Seq(
      (1L, "in sf today"), (2L, "to sf again"), (3L, "at sf now"),
      (4L, "baked beans"), (5L, "baked beans"), (6L, "baked beans"),
      (7L, "baked beans")).toDF("doc_id", "text")
    val trainSeq = train.as[(Long, String)].collect().toSeq
    val docs = Seq((10L, "went sf"), (11L, "went beans"), (12L, "in sf today"))
    val got = LangModel.scoreAgainstKN(train, docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expectedKN(trainSeq, docs))
    assert(got(10L)._2 > got(11L)._2,
      "continuation probability must rank 'went sf' above 'went beans'")
  }

  test("interpolated KN differential fuzz: Spark == scalar oracle on random corpora") {
    val rnd = new scala.util.Random(31)
    val words = Seq("a", "b", "c", "the", "cat", "sat", "ran", "é")
    for (trial <- 0 until 6) {
      val train = (0L until 12L).map { i =>
        (i, Seq.fill(1 + rnd.nextInt(9))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val docs = (100L until 110L).map { i =>
        (i, Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val got = LangModel.scoreAgainstKN(
          train.toDF("doc_id", "text"), docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == expectedKN(train, docs), s"trial $trial diverged")
    }
  }

  test("scoreWithModelKN (cutoffs=1) is bit-equal to scoreAgainstKN; stream gate matches") {
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(3 + (i % 7).toInt)(s"w${(i * 13) % 9}").mkString(" ") +
        " the cat sat on the mat near the dog " + s"tail${i % 5}")
    }.toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_kn_idx_").toString
    LangModel.buildKnIndex(docs, "text", path,
      minBigramCount = 1, minUnigramCount = 1)
    val model = LangModel.loadKnModel(spark, path)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaKernel = asMap(LangModel.scoreWithModelKN(docs, "doc_id", "text", model))
    val viaBatch = asMap(LangModel.scoreKN(docs, "doc_id", "text"))
    assert(viaKernel == viaBatch)
    // gate form: kept set == batch scores above the threshold
    val thr = viaBatch.values.map(_._2).toSeq.sorted.apply(viaBatch.size / 2)
    val gated = asMap(graft.streaming.Streaming.knGate(
      spark, docs, "doc_id", "text", path, thr)
      .select("doc_id", "n_bigrams", "avg_logp"))
    assert(gated == viaBatch.filter { case (_, (_, lp)) => lp >= thr })
  }

  test("KN pruning: pruned bigram loses its discounted term, continuation stats stay pre-prune") {
    // "the cat" x3 survives cutoff 2; "cat sat" x1 prunes. B, V, and
    // the type counts must NOT change under pruning.
    val train = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the cat naps")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_kn_idx2_").toString
    LangModel.buildKnIndex(train, "text", path,
      minBigramCount = 2, minUnigramCount = 1)
    val model = LangModel.loadKnModel(spark, path)
    assert(model.vocab == 5 && model.bTypes == 4) // types pre-prune
    assert(model.bigramKeys.length == 1)          // only "the cat" survives
    val probe = Seq((9L, "the cat sat")).toDF("doc_id", "text")
    val got = LangModel.scoreWithModelKN(probe, "doc_id", "text", model)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    // bigram 1 "the cat": cb=3, cu(the)=3, n1p(the)=1, nw2(cat)=1
    val pc1 = (1 + 1.0) / (4 + 5)
    val x1 = (math.max(3 - 0.75, 0.0) / 3) + ((0.75 * 1 / 3) * pc1)
    // bigram 2 "cat sat": cb pruned->0, cu(cat)=3, n1p(cat)=3, nw2(sat)=1
    val pc2 = (1 + 1.0) / (4 + 5)
    val x2 = (math.max(0 - 0.75, 0.0) / 3) + ((0.75 * 3 / 3) * pc2)
    val lp1 = math.floor(math.log(x1) * 1e4).toLong
    val lp2 = math.floor(math.log(x2) * 1e4).toLong
    assert(got == (2L, math.floor((lp1 + lp2) / 2.0) / 1e4))
  }

  test("order-N pruning: cutoff applies per order, |V| and N stay pre-prune") {
    val train = Seq(
      (1L, "a b c d"), (2L, "a b c d"), (3L, "b c d e")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lmn_idx_").toString
    LangModel.buildLmIndexN(train, "text", path, order = 4, minCount = 2)
    val model = LangModel.loadLmModelN(spark, path)
    assert(model.vocab == 5 && model.nTokens == 12)
    // (b c d e) x1 pruned; backoff (c d e)/(c d): trigram (c,d,e) x1
    // pruned too; (d e)/(d): bigram (d,e) x1 pruned; terminal floor
    // with c(e)=1 pruned -> 0 (unigram cutoff also 2): 0.4^3*(0+1)/(12+5)
    val probe = Seq((9L, "b c d e")).toDF("doc_id", "text")
    val got = LangModel.scoreWithModelN(probe, "doc_id", "text", model)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    val f3 = 1.0 * 0.4 * 0.4 * 0.4
    val lp = math.floor(math.log(f3 * (0 + 1.0) / (12 + 5)) * 1e4).toLong
    assert(got == (1L, math.floor(lp * 1.0 / 1) / 1e4))
  }

  test("count pruning: pruned bigrams score as unseen, vocab stays unpruned") {
    // "the cat" occurs 3x, "cat sat" 1x: cutoff 2 prunes "cat sat"
    val train = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the cat naps")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_lm_idx2_").toString
    LangModel.buildLmIndex(train, "text", path,
      minBigramCount = 2, minUnigramCount = 1)
    val model = LangModel.loadLmModel(spark, path)
    assert(model.vocab == 5) // the, cat, sat, ran, naps
    val probe = Seq((9L, "the cat sat")).toDF("doc_id", "text")
    val got = LangModel.scoreWithModel(probe, "doc_id", "text", model)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    // bigram 1: "the cat" survives (c=3, cu(the)=3, V): floor4(ln(4/(3+V)))
    // bigram 2: "cat sat" pruned -> unseen (c=0, cu(cat)=3): floor4(ln(1/(3+V)))
    val v = model.vocab.toDouble
    val lp1 = math.floor(math.log(4.0 / (3 + v)) * 1e4).toLong
    val lp2 = math.floor(math.log(1.0 / (3 + v)) * 1e4).toLong
    assert(got == (2L, math.floor((lp1 + lp2) / 2.0) / 1e4))
  }
}
