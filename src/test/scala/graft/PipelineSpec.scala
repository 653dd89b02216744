package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.run.Validator
import graft.spec.SpecParser

import Harness.spark

/** Shared hand-rolled ISO-BMFF box builders for the hostile-layout video
  * tests — one copy so a future field-offset fix cannot drift between
  * tests (r5 review finding). */
private object Mp4Kit {
  def box(fourcc: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length).put(fourcc.getBytes("US-ASCII")).put(payload)
    bb.array()
  }
  def cat(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
  val ftyp: Array[Byte] = box("ftyp", "isomxxxxisom".getBytes("US-ASCII"))
  def mvhd: Array[Byte] = box("mvhd", java.nio.ByteBuffer.allocate(100)
    .putInt(0).putInt(0).putInt(0).putInt(600).putInt(50).array())
  def mdhd: Array[Byte] = box("mdhd", new Array[Byte](24))
  def hdlr(kind: String): Array[Byte] = box("hdlr", java.nio.ByteBuffer.allocate(25)
    .putInt(0).putInt(0).put(kind.getBytes("US-ASCII")).array())
  def tkhd(w: Int, h: Int): Array[Byte] = box("tkhd", java.nio.ByteBuffer.allocate(84)
    .putInt(0).putInt(0).putInt(0).putInt(1)
    .put(new Array[Byte](60)).putInt(w << 16).putInt(h << 16).array())
  def trak(kind: String, w: Int, h: Int, stbl: Array[Byte]): Array[Byte] =
    box("trak", cat(tkhd(w, h),
      box("mdia", cat(mdhd, hdlr(kind), box("minf", box("stbl", stbl))))))
}

/** Training-pipeline operators: text analysis, dedup family, ANN, multimodal. */
class PipelineSpec extends AnyFunSuite {
  import spark.implicits._

  val docsDf = Seq(
    (1L, "The quick brown fox jumps over the lazy dog and the cat sat on the mat with the dog"),
    (2L, "The quick brown fox jumps over the lazy dog and the cat sat on the mat with the cow"),
    (3L, "Der schnelle braune Fuchs springt über den faulen Hund und die Katze ist nicht hier"),
    (4L, "Le renard brun rapide saute par dessus le chien paresseux et le chat est dans la maison"),
    (5L, "El rápido zorro marrón salta sobre el perro perezoso y el gato es una manta en la casa"),
    (6L, "这是一个中文文档的示例文本"),
    (7L, "completely different text about spark query engines and distributed systems for training data"),
    (8L, "The quick brown fox jumps over the lazy dog and the cat sat on the mat with the dog")
  ).toDF("doc_id", "text")

  test("wsTokenCount / bpeTokenCount") {
    val counts = docsDf.select(col("doc_id"), TextAnalysis.wsTokenCount(col("text")).as("c"),
        TextAnalysis.bpeTokenCount(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(counts(1L)._1 == 19)
    assert(counts(1L)._2 >= 19) // BPE pretokens ≥ whitespace tokens
    val empty = Seq((9L, "   ")).toDF("doc_id", "text")
      .select(TextAnalysis.wsTokenCount(col("text"))).collect()(0).getInt(0)
    assert(empty == 0)
  }

  test("languageId identifies en/de/fr/es/zh, und for no signal") {
    val langs = docsDf.select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en"); assert(langs(3L) == "de")
    assert(langs(4L) == "fr"); assert(langs(5L) == "es"); assert(langs(6L) == "zh")
    val und = Seq((9L, "xyzzy plugh 12345")).toDF("doc_id", "text")
      .select(TextAnalysis.languageId(col("text"))).collect()(0).getString(0)
    assert(und == "und")
  }

  test("qualityScore in [0,1], higher for clean prose than garbage") {
    val q = docsDf.select(TextAnalysis.qualityScore(col("text"))).collect().map(_.getDouble(0))
    assert(q.forall(s => s >= 0 && s <= 1))
    val garbage = Seq((9L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))")).toDF("doc_id", "text")
      .select(TextAnalysis.qualityScore(col("text"))).collect()(0).getDouble(0)
    val clean = q(0)
    assert(clean > garbage)
  }

  test("piiScan: counts + redaction match a driver regex recompute; nulls pass through") {
    val pii = Seq(
      (1L, "mail me at alice.smith+spam@mail.example.co or bob@ex.io today"),
      (2L, "server 192.168.1.254 and 10.0.0.1 up; version 1.2.3.4.5 has five parts"),
      (3L, "call +1 555 0100 or +49 302 555 1234 tonight"),
      (4L, "ssn 123-45-6789 on file; order 12-34-5678 is not one"),
      (5L, "no pii here at all"),
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiScan(pii, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getInt(1) == 2 && got(1L).getString(5).contains("<EMAIL>")
      && !got(1L).getString(5).contains("@"))
    // 1.2.3.4.5: \b-bounded quads — RE2/Java both match the leading 1.2.3.4
    assert(got(2L).getInt(2) == 3 && got(2L).getString(5).contains("<IP>"))
    assert(got(3L).getInt(3) == 2 && got(3L).getString(5).contains("<PHONE>"))
    assert(got(4L).getInt(4) == 1 && got(4L).getString(5).contains("<SSN>")
      && got(4L).getString(5).contains("12-34-5678"))
    assert(got(5L).toSeq.slice(1, 5) == Seq(0, 0, 0, 0) && got(5L).getString(5) == "no pii here at all")
    assert(got(6L).isNullAt(1) && got(6L).isNullAt(5))
    // brute force: Java regex over the same rows must agree with the plan
    pii.collect().filter(!_.isNullAt(1)).foreach { row =>
      val t = row.getString(1)
      val g = got(row.getLong(0))
      TextAnalysis.PiiPatterns.zipWithIndex.foreach { case ((_, re, _), i) =>
        assert(g.getInt(i + 1) == re.r.findAllIn(t).size, s"$re on '$t'")
      }
      val red = TextAnalysis.PiiPatterns.foldLeft(t) { case (acc, (_, re, tag)) =>
        acc.replaceAll(re, tag) }
      assert(g.getString(5) == red)
    }
  }

  test("fingerprint: stable, normalization-insensitive, content-sensitive") {
    val fp = (t: String) => Seq((1L, t)).toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint(col("text"))).collect()(0).getLong(0)
    val a = fp("The quick brown fox jumps over the lazy dog")
    assert(a == fp("the  QUICK brown\tfox jumps over the lazy dog!"))
    assert(a != fp("an entirely different document about databases"))
  }

  test("bloomMightContain: zero false negatives, fp rate near fpp, empty history clean") {
    val hist = (1 to 500).map(i => (i.toLong, s"key_$i")).toDF("id", "k")
    // batch: 50 true members + 500 guaranteed non-members
    val batch = ((1 to 50).map(i => (1000L + i, s"key_$i", true)) ++
        (1 to 500).map(i => (2000L + i, s"other_$i", false)))
      .toDF("id", "k", "truth")
    val flagged = Dedup.bloomMightContain(hist, col("k"), batch, col("k"),
        expectedItems = 1000L, fpp = 0.01)
      .collect().map(r => (r.getBoolean(2), r.getBoolean(3))).toSeq
    // one-sided error: EVERY true member is flagged
    assert(flagged.filter(_._1).forall(_._2), "bloom missed a true member")
    // false positives bounded well under 5× the configured fpp
    val fps = flagged.count(p => !p._1 && p._2)
    assert(fps <= 25, s"fp count $fps above bound on 500 non-members")
    val none = Dedup.bloomMightContain(hist.where(col("id") < 0), col("k"),
        batch, col("k"), expectedItems = 1000L)
      .collect()
    assert(none.forall(!_.getBoolean(3)), "empty history must flag nothing")
    // an items estimate past the aggregate's conf ceilings must clamp to
    // them (degraded fpp), not throw — and one-sided error still holds
    val big = Dedup.bloomMightContain(hist, col("k"), batch, col("k"),
        expectedItems = 100000000L, fpp = 0.001)
      .collect().map(r => (r.getBoolean(2), r.getBoolean(3)))
    assert(big.filter(_._1).forall(_._2), "clamped bloom missed a true member")
    // null keys are never members and never probe: xxhash64(NULL) = seed
    // would otherwise alias every null-keyed row to one constant key
    val nk = Dedup.bloomMightContain(
        hist.unionByName(Seq((9999L, null.asInstanceOf[String])).toDF("id", "k")), col("k"),
        batch.select(col("id"), when(col("id") === 2001L, lit(null)).otherwise(col("k")).as("k"),
          col("truth")), col("k"),
        expectedItems = 1000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(!nk(2001L), "null batch key must not probe as a member")
    assert((1 to 50).forall(i => nk(1000L + i)), "null history key corrupted the sketch")
  }

  test("splitAssign: null ids bucket to train under BOTH hash families") {
    import graft.pipeline.{Hashing, Sampling}
    val df = Seq[java.lang.Long](1L, 2L, null).toDF("doc_id")
    for (h <- Seq(Hashing.Xx, Hashing.Md5)) {
      val r = Sampling.splitAssign(df, "doc_id", 100000L, 100000L, h)
        .where(col("doc_id").isNull).collect()
      assert(r.length == 1 && r(0).isNullAt(1) && r(0).getString(2) == "train",
        s"null id must bucket null/train, got ${r.toSeq}")
    }
  }

  test("lineDupStats: within-doc dedup, cross-doc document frequency, absent empty docs") {
    val docs = Seq(
      (1L, "shared header\nunique one\nshared header\n  \nshared footer"),
      (2L, "shared header\nunique two\nshared footer"),
      (3L, "unique three\nonly here"),
      (4L, "   \n\n"), // no non-empty lines → absent
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.lineDupStats(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: distinct lines {header, unique one, footer} — repeated line
    // counts ONCE within the doc; header+footer shared with doc 2
    assert(got(1L) == ((3L, 2L, 666666L)), s"got ${got(1L)}")
    assert(got(2L) == ((3L, 2L, 666666L)))
    assert(got(3L) == ((2L, 0L, 0L)))
    assert(!got.contains(4L) && !got.contains(5L))
  }

  test("topNgrams: exact n-grams, short rows contribute nothing, deterministic ties") {
    val docs = Seq(
      (1L, "a b c a b"),   // bigrams: "a b" ×2, "b c", "c a"
      (2L, "a b"),          // "a b"
      (3L, "solo"),         // 1 word → nothing
      (4L, ""), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(docs, col("text"), n = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("a b", 3L), ("b c", 1L), ("c a", 1L)), s"got $top")
    val top1 = TextAnalysis.topNgrams(docs, col("text"), n = 1, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top1 == Seq(("a", 3L), ("b", 3L)), s"got $top1") // tie broken on string
  }

  test("vocabScore: per-doc rollup against a broadcast dictionary, degenerate docs kept") {
    val d = Seq((1L, "a b a c"), (2L, "x y"), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val vocab = Seq(("a", 10L), ("b", 5L), ("y", 2L)).toDF("word", "cnt")
    val got = TextAnalysis.vocabScore(d, col("text"), col("doc_id"), vocab)
      .collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1)), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ((4, 3L, 25L))) // a,b,a known → 10+5+10
    assert(got(2L) == ((2, 1L, 2L)))
    assert(got(3L) == ((0, 0L, 0L))) // zero words: row kept, nothing known
    assert(got(4L) == ((-1, 0L, 0L))) // null text: null word count
  }

  test("sessionize: gap rule, per-user indices, tie-broken duplicate timestamps") {
    import java.sql.Timestamp
    def t(min: Long, sec: Long = 0) = new Timestamp(min * 60000L + sec * 1000L)
    val events = Seq(
      // user 1: events at 0,10,20 min (one session), 60,65 (second), 200 (third)
      (1L, t(0), 100L), (1L, t(10), 101L), (1L, t(20), 102L),
      (1L, t(60), 103L), (1L, t(65), 104L), (1L, t(200), 105L),
      // user 2: duplicate timestamps — order falls back to event_id
      (2L, t(0), 200L), (2L, t(0), 201L), (2L, t(31), 202L),
      // user 3: ids NOT time-monotone — first_event is the opener (999),
      // not min(event_id); plus a null-ts event that must be excluded
      (3L, t(0), 999L), (3L, t(5), 50L),
      (3L, null.asInstanceOf[java.sql.Timestamp], 51L))
      .toDF("user_id", "ts", "event_id")
    val got = graft.pipeline.Sessionize.sessions(events,
        col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got((1L, 1L)) == ((3L, 20L * 60000000L, 100L)))
    assert(got((1L, 2L)) == ((2L, 5L * 60000000L, 103L)))
    assert(got((1L, 3L)) == ((1L, 0L, 105L)))
    // 31-minute gap > 30-minute rule → user 2 splits after the tied pair
    assert(got((2L, 1L)) == ((2L, 0L, 200L)))
    assert(got((2L, 2L)) == ((1L, 0L, 202L)))
    // opener semantics + null-ts exclusion: 2 events, first by TIME is 999
    assert(got((3L, 1L)) == ((2L, 5L * 60000000L, 999L)))
    assert(got.size == 6)
  }

  test("exact dedup: groups + drop list keep min doc_id") {
    val groups = Dedup.exactGroups(docsDf, col("text"), col("doc_id")).collect()
    assert(groups.length == 1 && groups(0).getLong(1) == 2 && groups(0).getLong(2) == 1L)
    val drops = Dedup.exactDropList(docsDf, col("text"), col("doc_id"))
      .collect().map(_.getLong(0))
    assert(drops.toSeq == Seq(8L))
  }

  test("minhash LSH: near-dup pair (1,2) found, verified by exact Jaccard") {
    val cands = Dedup.minhashCandidates(docsDf, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)), s"expected (1,2) candidate, got $cands")
    val dups = Dedup.nearDuplicates(docsDf, col("text"), col("doc_id"), threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(dups.contains((1L, 2L)) && dups((1L, 2L)) > 0.5)
    assert(dups.contains((1L, 8L)) && dups((1L, 8L)) == 1.0) // exact dup
    assert(!dups.keySet.exists { case (a, b) => Set(a, b).contains(7L) })
  }

  test("ngram Jaccard join is EXACT: equals brute-force all-pairs at every threshold") {
    // Corpus engineered so prefix filtering must prune AND must not lose
    // pairs: clusters of word-substituted variants, exact dups, disjoint
    // docs, and a doc shorter than the shingle width.
    val base = "the quick brown fox jumps over the lazy dog and the cat sat on the mat"
    val variants = (0 until 12).map(i => (100L + i, base.replace("mat", s"mat$i")))
    val corpus = (docsDf.collect().map(r => (r.getLong(0), r.getString(1))) ++ variants ++
      Seq((200L, "tiny doc"), (201L, "tiny doc"),
        // zero-word docs shingle to the [""] sentinel and must NOT pair up
        // with each other (ADVICE r3: the {""} clique is not shared content)
        (300L, "???!!!"), (301L, "..."), (302L, "")))
      .toSeq.toDF("doc_id", "text")
    val shf = Dedup.shingleFrame(corpus, col("text"), col("doc_id"))
    // brute force over NON-SENTINEL shingle sets (zero-word docs have an
    // empty real set and by definition can't reach any threshold > 0)
    val sets = shf.select(col("doc_id"),
        array_remove(array_distinct(col("_sh")), "").as("sh"))
      .where(size(col("sh")) > 0)
    val bruteAll = sets.as("a").crossJoin(sets.as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (t <- Seq(0.5, 0.7, 0.8, 0.95)) {
      val got = Dedup.ngramJaccardNearDuplicates(corpus, col("text"), col("doc_id"), threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = bruteAll.filter(_._2 >= t).keySet
      assert(got == want, s"threshold $t: got ${got.size}, want ${want.size}; " +
        s"missing ${want -- got}, extra ${got -- want}")
    }
    // the prefix index actually prunes: candidates ≪ all pairs, ⊇ true pairs
    val n = sets.count()
    val cands = Dedup.ngramPrefixCandidates(shf, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.size < n * (n - 1) / 2)
    assert(bruteAll.filter(_._2 >= 0.8).keySet.subsetOf(cands))
    // τ = 0 voids the prefix-filter exactness guarantee (disjoint pairs
    // satisfy J ≥ 0 but share no shingle) — must be rejected at the API
    for (bad <- Seq(0.0, -0.1, 1.5))
      intercept[IllegalArgumentException] {
        Dedup.ngramJaccardNearDuplicates(corpus, col("text"), col("doc_id"), threshold = bad)
      }
  }

  test("repetitionStats: run-length-over-sorted equals brute-force bigram counting") {
    val corpus = docsDf.unionByName(Seq(
      (20L, "spam spam spam spam spam"),  // one bigram repeated 4x
      (21L, "a"),                          // 1 word, 0 bigrams
      (22L, ""),                           // empty
      (23L, "x y x y x y")                 // alternating: "x y" 3x, "y x" 2x
    ).toDF("doc_id", "text"))
    val got = TextAnalysis.repetitionStats(corpus, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getInt(3), r.getLong(4), r.getDouble(5))))
      .toMap
    corpus.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val ws = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
      val bg = if (ws.size < 2) Seq.empty[String]
               else ws.sliding(2).map(_.mkString(" ")).toSeq
      val top = if (bg.isEmpty) 0L else bg.groupBy(identity).values.map(_.size).max.toLong
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expected = (ws.size,
        if (ws.nonEmpty) r4(1.0 - ws.distinct.size.toDouble / ws.size) else 0.0,
        bg.size, top,
        if (bg.nonEmpty) r4(top.toDouble / bg.size) else 0.0)
      assert(got(id) == expected, s"doc $id: got ${got(id)}, expected $expected")
    }
    assert(got(20L) == ((5, 0.8, 4, 4L, 1.0)))
    assert(got(23L)._4 == 3L) // "x y" wins over "y x"
  }

  test("decontamination equals brute-force shingle-overlap; eval-only shingles don't flag") {
    val corpus = docsDf.where(col("doc_id") =!= 8)
    val eval = docsDf.where(col("doc_id") === 8) // exact copy of doc 1
      .unionByName(Seq((9L, "totally unrelated benchmark prompt nothing shared"))
        .toDF("doc_id", "text"))
    // a punctuation-only eval doc contributes the zero-word sentinel
    // shingle "" — it must NOT flag empty/punct-only corpus docs
    val evalWithEmpty = eval.unionByName(
      Seq((10L, "???!!!")).toDF("doc_id", "text"))
    val corpusWithEmpty = corpus.unionByName(
      Seq((11L, "..."), (12L, "")).toDF("doc_id", "text"))
    val got = Dedup.contaminatedDocs(corpusWithEmpty, col("text"), col("doc_id"),
        evalWithEmpty, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(11L) && !got.contains(12L),
      "zero-word docs must never count as contaminated")

    // brute force: per corpus doc, distinct shingles ∩ distinct eval shingles
    val sh = Dedup.shingleFrame(corpus, col("text"), col("doc_id"))
      .select(col("doc_id"), array_distinct(col("_sh")).as("sh"))
    val evalSh = Dedup.shingleFrame(eval, col("text"), col("doc_id"))
      .select(explode(col("_sh")).as("s")).distinct()
      .collect().map(_.getString(0)).toSet
    val expected = sh.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).count(evalSh.contains).toLong)
      .filter(_._2 > 0).toMap
    assert(got == expected)
    assert(got.contains(1L)) // the planted exact copy must be flagged
    assert(!got.contains(6L)) // disjoint zh doc must not be
  }

  test("quotaSample: deterministic, partitioning-invariant, per-key bounded") {
    import graft.pipeline.{Hashing, Sampling}
    val df = spark.range(1000).selectExpr("id AS doc_id",
      "CASE WHEN id % 10 < 7 THEN 'big' WHEN id % 10 < 9 THEN 'mid' ELSE concat('tiny', id) END AS source")
    val a = Sampling.quotaSample(df, "source", "doc_id", 30)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = Sampling.quotaSample(df.repartition(13), "source", "doc_id", 30)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b, "sample must be independent of partitioning")
    val perKey = a.groupBy(_._2).map { case (k, v) => k -> v.size }
    assert(perKey("big") == 30 && perKey("mid") == 30)
    assert(perKey.filter(_._1.startsWith("tiny")).values.forall(_ == 1),
      "groups under quota keep every row")
    // membership = the quota smallest hashes per key (driver recompute)
    val hashed = df.withColumn("_h",
        Hashing.Xx.plain(col("doc_id").cast("string")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = hashed.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      rows.sortBy(r => (r._3, r._1)).take(30)
    }.map(r => (r._1, r._2)).sorted
    assert(a == expected)

    // null ids hash to null and must sort LAST (standard SQL / the DuckDB
    // oracle's default) — never preferentially filling the quota
    val withNulls = spark.range(40).selectExpr(
      "CASE WHEN id % 4 = 0 THEN NULL ELSE id END AS doc_id", "'only' AS source")
    val sampled = Sampling.quotaSample(withNulls, "source", "doc_id", 30)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(sampled.length == 30)
    assert(sampled.count(_.isEmpty) == 0,
      "30 non-null ids exist; null ids must not displace any of them")
  }

  test("tokenBudgetSample: cap keeps all, absent/zero budget keeps none, membership row-local") {
    import graft.pipeline.Sampling
    val rows: Seq[(java.lang.Long, String, String)] =
      (1 to 200).map(i => (java.lang.Long.valueOf(i.toLong),
        if (i % 2 == 0) "a" else "b", "w " * (i % 7 + 1))) :+
        ((null.asInstanceOf[java.lang.Long], "a", "null id doc")) // never kept
    val df = rows.toDF("doc_id", "source", "text")
    val tok = graft.pipeline.TextAnalysis.wsTokenCount(col("text"))
    val budgets = Seq(("a", 1000000L), ("c", 50L)).toDF("source", "budget")
    val kept = Sampling.tokenBudgetSample(df, "source", "doc_id", tok, budgets,
      graft.pipeline.Hashing.Md5)
    val ids = kept.select("doc_id").collect().map(_.get(0)).toSet
    // budget ≥ total → ppm caps at 1e6 → every non-null-id 'a' doc kept
    assert(ids == (2 to 200 by 2).map(_.toLong).toSet, "cap must keep all of 'a', nulls never")
    // 'b' has no budget row, 'c' has no docs → nothing else kept
    assert(kept.where(col("source") =!= "a").count() == 0)
    // membership is row-local: repartitioning changes nothing
    val ids2 = Sampling.tokenBudgetSample(df.repartition(7), "source", "doc_id", tok,
        budgets, graft.pipeline.Hashing.Md5)
      .select("doc_id").collect().map(_.get(0)).toSet
    assert(ids2 == ids)
    // a REAL partial budget keeps a strict, deterministic, non-empty subset
    val part = Sampling.tokenBudgetSample(df, "source", "doc_id", tok,
        Seq(("a", 100L)).toDF("source", "budget"), graft.pipeline.Hashing.Md5)
      .select("doc_id").collect().map(_.get(0)).toSet
    assert(part.nonEmpty && part.subsetOf(ids) && part.size < ids.size)
  }

  test("splitAssign: deterministic, partition-invariant, append-stable, fraction-plausible") {
    import graft.pipeline.Sampling
    val df = spark.range(20000).selectExpr("id AS doc_id", "'s' AS source")
    val a = Sampling.splitAssign(df, "doc_id", 50000L, 50000L)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.splitAssign(df.repartition(17), "doc_id", 50000L, 50000L)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "assignment must be independent of partitioning")
    // append-stability: the first half's assignments are a strict subset
    val half = Sampling.splitAssign(df.where(col("doc_id") < 10000), "doc_id", 50000L, 50000L)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half.forall { case (k, v) => a(k) == v },
      "growing the corpus must never move an existing doc across splits")
    // 5% ± 1pp at n = 20000 (binomial σ ≈ 0.15pp)
    val frac = a.values.groupBy(identity).map { case (k, v) => k -> v.size / 20000.0 }
    assert(math.abs(frac("val") - 0.05) < 0.01, s"val frac ${frac("val")}")
    assert(math.abs(frac("test") - 0.05) < 0.01, s"test frac ${frac("test")}")
    assert(frac("train") > 0.88)
    // degenerate fractions rejected
    intercept[IllegalArgumentException](
      Sampling.splitAssign(df, "doc_id", 600000L, 500000L))
  }

  test("packAssignments/packStats equal a sequential driver packer") {
    import graft.pipeline.Packing
    val rnd = new scala.util.Random(77)
    val rows = (0 until 300).map { i =>
      (i.toLong, if (i % 41 == 0) null
                 else Seq.fill(rnd.nextInt(40))("w").mkString(" "),
        s"s${i % 3}")
    }
    val df = rows.toDF("doc_id", "text", "source")
    val ctx = 32
    val got = Packing.packAssignments(df, TextAnalysis.wsTokenCount(col("text")),
        col("doc_id"), col("source"), ctx)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    // sequential reference packer: lay docs per stream in doc_id order
    val expected = rows.groupBy(_._3).flatMap { case (src, ds) =>
      var off = 0L
      ds.sortBy(_._1).map { case (id, text, _) =>
        val n = if (text == null) 0L
                else text.trim.split("\\s+").count(_.nonEmpty).toLong
        val start = off; off += n
        val fb = start / ctx
        val lb = (math.max(off, start + 1) - 1) / ctx
        (src, id) -> (n, start, fb, lb, fb != lb)
      }
    }
    assert(got == expected)
    // stats roll up exactly: n_bins = ceil(total/ctx), waste < ctx
    val stats = Packing.packStats(df, TextAnalysis.wsTokenCount(col("text")),
        col("doc_id"), col("source"), ctx)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    rows.groupBy(_._3).foreach { case (src, ds) =>
      val (docs, total, bins, strad, waste) = stats(src)
      assert(docs == ds.size)
      val expTotal = ds.map { case (id, _, s) => expected((s, id))._1 }.sum
      assert(total == expTotal)
      assert(bins == (total + ctx - 1) / ctx)
      assert(waste == bins * ctx - total && waste >= 0 && waste < ctx)
      assert(strad == ds.count { case (id, _, s) => expected((s, id))._5 })
    }
  }

  test("seeded random corpus: repetition + decontamination match brute force") {
    // small vocab forces heavy bigram collisions and shingle overlap —
    // the regimes where a run-length or prefix bug would surface
    val rnd = new scala.util.Random(2026)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "fff", "gg")
    val corpus = (0 until 120).map { i =>
      val n = rnd.nextInt(9) // 0..8 words — includes zero-word docs
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")

    val gotRep = TextAnalysis.repetitionStats(corpus, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(3), r.getLong(4)))).toMap
    corpus.collect().foreach { r =>
      val ws = r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq
      val bg = if (ws.size < 2) Seq.empty[String]
               else ws.sliding(2).map(_.mkString(" ")).toSeq
      val top = if (bg.isEmpty) 0L else bg.groupBy(identity).values.map(_.size).max.toLong
      assert(gotRep(r.getLong(0)) == ((bg.size, top)), s"doc ${r.getLong(0)}")
    }

    val evalSet = corpus.where(col("doc_id") % 7 === 0)
    val rest = corpus.where(col("doc_id") % 7 =!= 0)
    val gotCon = Dedup.contaminatedDocs(rest, col("text"), col("doc_id"),
        evalSet, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shingle = (ws: Seq[String]) =>
      if (ws.isEmpty) Set.empty[String] // the "" sentinel never contaminates
      else if (ws.size <= 3) Set(ws.mkString(" "))
      else ws.sliding(3).map(_.mkString(" ")).toSet
    val evalSh = evalSet.collect()
      .flatMap(r => shingle(r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq)).toSet
    rest.collect().foreach { r =>
      val mine = shingle(r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq)
      val overlap = (mine intersect evalSh).size.toLong
      assert(gotCon.getOrElse(r.getLong(0), 0L) == overlap, s"doc ${r.getLong(0)}")
    }
  }

  test("mixtureReport: ppm shares match a driver recompute and sum to ~1e6") {
    import graft.pipeline.Sampling
    val corpus = docsDf.withColumn("source",
      when(col("doc_id") <= 2, lit("web")).otherwise(lit("books")))
    val got = Sampling.mixtureReport(corpus, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val rows = corpus.collect().map { r =>
      val ws = r.getString(1).trim
      (r.getString(2), if (ws.isEmpty) 0L else ws.split("\\s+").length.toLong)
    }
    val td = rows.length.toDouble
    val tt = rows.map(_._2).sum.toDouble
    // same IEEE expression as both engines: cast → ×1e6 → ÷ → floor
    def ppm(x: Long, t: Double) = math.floor(x.toDouble * 1000000.0 / t).toLong
    rows.groupBy(_._1).foreach { case (src, g) =>
      val (docs, toks) = (g.length.toLong, g.map(_._2).sum)
      assert(got(src) == ((docs, toks, ppm(docs, td), ppm(toks, tt))), src)
    }
    // floors can undershoot by at most one ppm per key
    val s = got.values.map(_._3).sum
    assert(s <= 1000000L && s >= 1000000L - got.size)
  }

  test("mixtureReport ppm is floor-exact on a near-boundary fixture") {
    import graft.pipeline.Sampling
    // 3 sources / 7 docs: 3/7 = 0.428571428571... — a repeating binary
    // expansion where round-to-6-digits was ulp-fragile across engines;
    // floor-ppm must give exactly 428571.
    val rows = (1 to 7).map(i =>
      (i.toLong, "w " * i, if (i <= 3) "a" else if (i <= 6) "b" else "c"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text", "source")
    val got = Sampling.mixtureReport(df, "source", "text")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got == Map("a" -> 428571L, "b" -> 428571L, "c" -> 142857L))
  }

  test("dropListFromPairs is generic: exact ngram pairs collapse to the same decision as LSH") {
    val pairs = Dedup.ngramJaccardNearDuplicates(docsDf, col("text"), col("doc_id"),
      threshold = 0.5)
    val drop = Dedup.dropListFromPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drop == Map(2L -> 1L, 8L -> 1L)) // cluster {1,2,8} keeps min id 1
    assert(drop.keySet.intersect(drop.values.toSet).isEmpty) // keep ∉ dropped
    val lsh = Dedup.nearDupDropList(docsDf, col("text"), col("doc_id"), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drop == lsh)
  }

  test("minhash explode+agg signatures equal the legacy lambda formulation") {
    val shf = Dedup.shingleFrame(docsDf, col("text"), col("doc_id"))
    val fast = Dedup.minhashSignatures(shf, numHashes = 16)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toVector).toMap
    val slow = shf.select(col("doc_id"),
        Dedup.minhashSignatureFromShingles(col("_sh"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(fast == slow)
  }

  test("oracle (md5) hash family: cross-engine constant + pipelines still find pairs") {
    // pinned against DuckDB 1.0: SELECT ('0x'||substr(md5('hello'),1,15))::BIGINT
    val h = Seq(Tuple1("hello")).toDF("s")
      .select(graft.pipeline.Hashing.md5hash64(col("s"))).collect()(0).getLong(0)
    assert(h == 419982666956583591L)
    val dups = Dedup.nearDuplicates(docsDf, col("text"), col("doc_id"),
        threshold = 0.5, hash = graft.pipeline.Hashing.Md5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((1L, 2L)) && dups.contains((1L, 8L)))
    val sh = Dedup.simhashByKey(docsDf, col("text"), col("doc_id"),
        bits = 60, hash = graft.pipeline.Hashing.Md5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(8L) && sh(1L) != sh(7L))
  }

  test("over-cap LSH buckets are dropped AND counted (recall ledger)") {
    // 12 identical docs → every band bucket has 12 members > cap 8
    val many = (1 to 12).map(i => (i.toLong, "same text repeated for the bucket cap test"))
      .toDF("doc_id", "text")
    val dropped = Dedup.minhashBucketStats(many, col("text"), col("doc_id"), maxBucket = 8)
      .collect()
    assert(dropped.nonEmpty && dropped.forall(_.getLong(2) == 12L))
    val pairs = Dedup.minhashCandidates(many, col("text"), col("doc_id"), maxBucket = 8)
    assert(pairs.count() == 0) // all buckets capped → pairs dropped, but counted above
  }

  test("connected components + near-dup drop list keep one representative per cluster") {
    // chain 1-2-3 (transitive) + pair (10,11): labels collapse to the min id
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // end-to-end drop list on the text corpus: exact dup 8 collapses onto 1
    val drops = Dedup.nearDupDropList(docsDf, col("text"), col("doc_id"), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drops.get(8L).contains(1L), s"doc 8 should drop in favor of 1: $drops")
    assert(!drops.contains(1L), "the representative is kept")
  }

  test("connected components materialize the pair pipeline ONCE, independent of iterations") {
    // VERDICT r2 #1 gate: a diameter-8 chain needs ~9 label-propagation
    // rounds; the un-persisted loop re-evaluated the edges lineage every
    // round. With the counting column the whole pairs plan must evaluate
    // EXACTLY ONCE (the directed pair set is persisted before the edge
    // union doubles it) — no matter how many rounds run.
    val acc = spark.sparkContext.longAccumulator("pairEvals")
    val bump = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
    val pairs = chain.toDF("a", "b")
      .select(bump(col("a")).as("doc_a"), col("b").as("doc_b"))
    acc.reset()
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (1L to 9L).map(_ -> 1L).toMap)
    assert(acc.value == chain.size.toLong,
      s"pairs evaluated ${acc.value} times for ${chain.size} edges — the CC loop re-executed upstream")
  }

  test("connected components throw instead of returning partially-converged labels") {
    val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
    val pairs = chain.toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](Dedup.connectedComponents(pairs, maxIter = 2))
    assert(e.getMessage.contains("converge"))
  }

  test("connected components converge in O(log d) rounds on a long chain") {
    // a 64-node path has diameter 63: min-label propagation (the r3
    // algorithm) needs 63 sequential rounds, so maxIter = 12 would throw.
    // Large-star/small-star roughly doubles the collapsed distance per
    // round — converging (plus the fixed-point confirmation round) well
    // inside 12. Labels must still all collapse to the chain minimum, and a
    // shuffled second component must not interfere.
    val chain = (1L to 64L).sliding(2).map(s => (s.head, s.last)).toSeq
    val other = (100L to 120L).sliding(2).map(s => (s.last, s.head)).toSeq // reversed order
    val pairs = scala.util.Random.shuffle(chain ++ other).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 64L).map(_ -> 1L).toMap ++ (100L to 120L).map(_ -> 100L).toMap
    assert(labels == expected)
  }

  test("simhash: identical text → same hash; near text → small hamming distance") {
    val hashes = docsDf.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(1L) == hashes(8L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hashes(1L), hashes(2L)) <= 12)
    assert(hamming(hashes(1L), hashes(7L)) > 12)
    val cands = Dedup.simhashCandidates(docsDf, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 8L)))
    // the codegen'd explode+agg formulation must equal the lambda one
    val byKey = Dedup.simhashByKey(docsDf, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byKey == hashes)
  }

  test("simhash near-dups: exact dup verified at hamming 0; distant text excluded") {
    val pairs = Dedup.simhashNearDuplicates(docsDf, col("text"), col("doc_id"),
        maxHamming = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 8L)).contains(0), s"exact dup should verify at hamming 0: $pairs")
    assert(!pairs.keySet.exists { case (a, b) => Set(a, b).contains(7L) })
  }

  test("embedding over-cap buckets are dropped AND counted") {
    // 20 copies of one vector → its hyperplane bucket exceeds cap 8
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(j + 1)))) :+
      (100L, Array.tabulate(8)(j => math.cos(j + 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val dropped = Dedup.embeddingBucketStats(df, col("embedding"), col("vec_id"),
      dim = 8, maxBucket = 8).collect()
    assert(dropped.length == 1 && dropped(0).getLong(1) == 20L, dropped.toSeq)
    val pairs = Dedup.embeddingNearDups(df, col("embedding"), col("vec_id"),
      dim = 8, maxBucket = 8)
    assert(pairs.count() == 0) // capped → dropped, but counted above
  }

  test("embedding near-dups via hyperplane LSH find planted duplicates") {
    val vecs = (0 until 50).map { i =>
      val base = Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)
      (i.toLong, base)
    } :+ (100L, Array.tabulate(8)(j => math.sin(3 * 8 + j).toFloat * 1.001f))
    val df = vecs.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, col("embedding"), col("vec_id"), dim = 8,
        threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)), s"expected planted pair, got $pairs")
  }

  test("brute-force top-k matches manual cosine ranking on the embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
    val topk = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 5)
    val rows = topk.collect()
    assert(rows.length == 15) // 3 queries × 5
    // ranks are 1..5 per query, cosine non-increasing
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5))
      val coss = sorted.map(_.getDouble(3))
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF top-k: assignment covers all rows; probe recall overlaps brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).collect()(0).getInt(0)
    val assigned = Similarity.ivfAssign(emb, col("embedding"), 8, dim)
    assert(assigned.where(col("centroid").isNull).count() == 0)
    assert(assigned.select(countDistinct(col("centroid"))).collect()(0).getLong(0) > 1)

    val queries = emb.where(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 5, numCentroids = 8, dim = dim, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall vs brute force too low: $recall")
  }

  test("trained IVF centroids: recall@10 measured per nprobe, beats blind probing") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
    val sample = Similarity.sampleVectors(emb.orderBy("vec_id"), col("embedding"), 512)
    val trained = Similarity.trainCentroids(sample, k = 16, iters = 10, seed = 7L)
    assert(trained.length == 16 && trained.forall(c =>
      math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9), "centroids must be unit vectors")

    val queries = emb.where(col("vec_id") < 10)
    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = topSet(Similarity.bruteForceTopK(
      emb, col("vec_id"), col("embedding"), queries, col("vec_id"), col("embedding"), k = 10))
    def recall(approx: Map[Long, Set[Long]]): Double =
      exact.map { case (q, s) =>
        approx.get(q).fold(0.0)(a => (a & s).size.toDouble / s.size)
      }.sum / exact.size
    def rec(cents: Array[Array[Double]], np: Int): Double = recall(topSet(
      Similarity.ivfTopKWith(emb, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), cents, k = 10, nprobe = np)))
    val seeded = Similarity.centroids(16, 64, 7L).map(_.map(_.toDouble))
    val (t1, t4, s4) = (rec(trained, 1), rec(trained, 4), rec(seeded, 4))
    info(f"IVF recall@10 (16 centroids): trained nprobe=1 → $t1%.3f, nprobe=4 → $t4%.3f; seeded-random nprobe=4 → $s4%.3f")
    assert(t4 >= t1, "more probes cannot lose recall")
    assert(t4 > s4, f"training must beat blind random centroids at equal probe budget: $t4%.3f vs $s4%.3f")
  }

  test("multimodal: stub decode plumbing — meta, frames, spec validation") {
    val media = Multimodal.syntheticMedia(spark, 120)
    val meta = Multimodal.decodeMeta(media)
    assert(meta.count() == 120)
    val metaDf = meta.toDF()
    val checks = graft.compile.Compiler.compile(
      SpecParser.parse(Multimodal.MediaSpecJson), metaDf.schema)
    val v = Validator.run(metaDf.withColumn("part", lit("all")), checks, "doc_id", Some("part"))
    assert(v.violations.count() == 0) // synthetic media satisfies its spec

    val frames = Multimodal.frameSample(media, everyN = 4).toDF()
    assert(frames.count() > 0)
    assert(frames.select(min(col("frame_idx"))).collect()(0).getInt(0) == 0)
  }

  test("multimodal: corrupt payloads become sentinel rows the spec flags, not task failures") {
    import spark.implicits._
    val good = Multimodal.syntheticMedia(spark, 6)
    val bad = spark.createDataset(Seq(
      Multimodal.MediaRow(1000L, "image", Array[Byte](1, 2, 3, 4, 5)),
      Multimodal.MediaRow(1001L, "image", Array.empty[Byte])))
    val meta = Multimodal.decodeMeta(good.union(bad)).collect()
    assert(meta.length == 8) // no abort
    val sentinels = meta.filter(_.width == -1)
    assert(sentinels.map(_.doc_id).sorted.toSeq == Seq(1000L, 1001L))
    assert(sentinels.forall(m => m.height == -1 && m.n_frames == 0))
    // the MediaSpecJson validation quarantines exactly the sentinel rows
    val metaDf = Multimodal.decodeMeta(good.union(bad)).toDF()
    val checks = graft.compile.Compiler.compile(
      SpecParser.parse(Multimodal.MediaSpecJson), metaDf.schema)
    val v = Validator.run(metaDf.withColumn("part", lit("all")), checks, "doc_id", Some("part"))
    assert(v.violations.select("doc_id").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1000L, 1001L))
  }

  test("audio: JDK WAV round-trip decodes header fields per the generator contract") {
    val got = Multimodal.decodeAudioMeta(Multimodal.syntheticAudio(spark, 30)).collect()
    assert(got.length == 30)
    got.foreach { m =>
      val id = m.doc_id
      assert(m.sample_rate == Array(8000, 16000, 44100)((id % 3).toInt), s"sr of $id")
      assert(m.channels == 1 + (id % 2).toInt, s"ch of $id")
      assert(m.bits == 16)
      assert(m.n_samples == 100 + (id % 400), s"frames of $id")
      assert(m.n_bytes == 44 + m.n_samples * m.channels * 2, s"bytes of $id")
    }
    // a non-audio payload yields the audio sentinel, not a task failure
    import spark.implicits._
    val bad = spark.createDataset(Seq(
      Multimodal.MediaRow(7L, "audio", Array[Byte](9, 9, 9, 9))))
    val s = Multimodal.decodeAudioMeta(bad).collect().head
    assert(s.sample_rate == -1 && s.channels == -1 && s.n_samples == 0L)
  }

  test("video: ISO-BMFF round-trip decodes box-tree fields per the generator contract") {
    val got = Multimodal.decodeVideoMeta(Multimodal.syntheticVideos(spark, 30)).collect()
    assert(got.length == 30)
    got.foreach { m =>
      val id = m.doc_id
      assert(m.width == 160 + (id % 32) * 4, s"width of $id")
      assert(m.height == 96 + ((id / 7) % 32) * 4, s"height of $id")
      assert(m.n_frames == 1 + (id % 120), s"frames of $id")
      assert(m.timescale == 600 && m.duration_ticks == m.n_frames * 25L, s"time of $id")
      assert(m.n_bytes == 425 + m.n_frames * 16L, s"bytes of $id")
    }
    // the generic decodeMeta dispatch routes MP4 through the same walk
    import spark.implicits._
    val viaDispatch = Multimodal.decodeMeta(Multimodal.syntheticVideos(spark, 10)).collect()
    viaDispatch.foreach { m =>
      assert(m.width == 160 + (m.doc_id % 32) * 4 && m.n_frames == 1 + (m.doc_id % 120))
    }
    // frame slicing addresses real stsc/stco chunk boundaries: the corpus
    // is two-chunk with 4 junk bytes between the chunks inside mdat, so
    // re-assembling the every-1 sampling must reproduce the mdat payload
    // MINUS the junk, and every frame's bytes must match the generator's
    // content formula (a contiguous-from-mdat slicer would fail both)
    val rows = Multimodal.syntheticVideos(spark, 3).collect()
    val frames = Multimodal.frameSample(
      spark.createDataset(rows.toSeq), everyN = 1).collect()
    rows.foreach { r =>
      val fs = frames.filter(_.doc_id == r.doc_id).sortBy(_.frame_idx)
      val nf = (1 + r.doc_id % 120).toInt
      val s1 = (nf + 1) / 2
      assert(fs.length == nf && fs.forall(_.frame.length == 16))
      val payload = r.media.takeRight(nf * 16 + 4)
      val noJunk = payload.take(s1 * 16) ++ payload.drop(s1 * 16 + 4)
      assert(fs.flatMap(_.frame).sameElements(noJunk), s"chunk mismatch for ${r.doc_id}")
      fs.foreach { fr =>
        val want = Array.tabulate(16)(j =>
          ((r.doc_id * 31 + fr.frame_idx * 17 + j * 7) % 256).toByte)
        assert(fr.frame.sameElements(want), s"content of ${r.doc_id}/${fr.frame_idx}")
      }
    }
    // truncated/corrupt MP4 → sentinel row, not a task failure
    val truncated = rows.head.media.take(40)
    val bad = spark.createDataset(Seq(
      Multimodal.MediaRow(7L, "video", truncated),
      Multimodal.MediaRow(8L, "video", Array[Byte](0, 0, 0, 1, 'f', 't', 'y', 'p'))))
    val sents = Multimodal.decodeVideoMeta(bad).collect()
    assert(sents.forall(s => s.width == -1 && s.n_frames == 0))
  }

  test("video: seeded fuzz — mutated MP4 bytes never escape the quarantine") {
    import spark.implicits._
    // take real synthetic MP4s and flip seeded random bytes/fields: every
    // mutation must either decode or sentinel/skip — no exception may
    // escape decodeVideoMeta/frameSample, and no output may explode past
    // the payload's own size (the OOM-guard contract)
    val base = Multimodal.syntheticVideos(spark, 4).collect()
    val rnd = new scala.util.Random(20260818L)
    val mutated = (0 until 200).map { i =>
      val b = base(i % base.length).media
      val payload = rnd.nextInt(4) match {
        case 0 => // flip 1-4 random bytes anywhere
          val c = b.clone()
          (0 to rnd.nextInt(4)).foreach { _ =>
            c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte }
          c
        case 1 => // corrupt a 32-bit field near the front (box-walk hazard)
          val c = b.clone()
          val off = rnd.nextInt(math.min(c.length - 4, 200))
          val v = rnd.nextInt()
          c(off) = (v >> 24).toByte; c(off + 1) = (v >> 16).toByte
          c(off + 2) = (v >> 8).toByte; c(off + 3) = v.toByte
          c
        case 2 => b.take(8 + rnd.nextInt(b.length - 8)) // truncate
        case _ => b
      }
      Multimodal.MediaRow(1000L + i, "video", payload)
    }
    val ds = spark.createDataset(mutated)
    val meta = Multimodal.decodeVideoMeta(ds).collect() // must not throw
    assert(meta.length == mutated.length)
    val frames = Multimodal.frameSample(ds, everyN = 1).collect() // must not throw
    val sizes = mutated.map(r => r.doc_id -> r.media.length).toMap
    frames.groupBy(_.doc_id).foreach { case (id, fs) =>
      assert(fs.map(_.frame.length.toLong).sum <= sizes(id),
        s"frames of $id exceed the payload itself")
    }
  }

  test("video: per-sample stsz tables, audio-first trak order, hostile box sizes") {
    import spark.implicits._
    import Mp4Kit.{box, cat, ftyp, hdlr, mdhd, mvhd, trak}
    // A: variable frame sizes [3, 5, 2] via the stsz per-sample TABLE form
    val stszTable = box("stsz", java.nio.ByteBuffer.allocate(24)
      .putInt(0).putInt(0).putInt(3).putInt(3).putInt(5).putInt(2).array())
    val mdatA = box("mdat", Array.tabulate[Byte](10)(i => (i + 1).toByte))
    val fileA = cat(ftyp, box("moov", cat(mvhd, trak("vide", 64, 32, stszTable))), mdatA)
    // B: AUDIO trak first (w=h=0, 99 samples) — metadata must come from
    // the 'vide' trak behind it
    val stszAudio = box("stsz", java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(4).putInt(99).array())
    val stszVide = box("stsz", java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(16).putInt(2).array())
    val fileB = cat(ftyp, box("moov", cat(mvhd,
      trak("soun", 0, 0, stszAudio), trak("vide", 48, 24, stszVide))),
      box("mdat", new Array[Byte](32)))
    // C: hostile box size near Int.MaxValue on a box the scan must SKIP —
    // Int `off + size` wraps negative and walks off the array; the Long
    // guard must reject instead
    val fileC = cat(ftyp, java.nio.ByteBuffer.allocate(8)
      .putInt(0x7ffffff0).put("free".getBytes("US-ASCII")).array())
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", fileA),
      Multimodal.MediaRow(2L, "video", fileB),
      Multimodal.MediaRow(3L, "video", fileC)))
    val meta = Multimodal.decodeVideoMeta(ds).collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).width == 64 && meta(1L).n_frames == 3)
    assert(meta(2L).width == 48 && meta(2L).height == 24 && meta(2L).n_frames == 2,
      s"vide trak not selected: ${meta(2L)}")
    assert(meta(3L).width == -1, "hostile size must sentinel, not crash")
    // table-driven slicing: frames of 3, 5, 2 bytes reassemble mdat
    val fr = Multimodal.frameSample(ds, everyN = 1).collect()
      .filter(_.doc_id == 1L).sortBy(_.frame_idx)
    assert(fr.map(_.frame.length).toSeq == Seq(3, 5, 2), s"got ${fr.map(_.frame.length).toSeq}")
    assert(fr.flatMap(_.frame).toSeq == (1 to 10).map(_.toByte).toSeq)
    // corrupt videos emit no frames instead of aborting the job
    assert(Multimodal.frameSample(ds, everyN = 1).collect().count(_.doc_id == 3L) == 0)
    // D: hostile uniform sample_count (2e9 × 1-byte samples vs a 4-byte
    // mdat) must be rejected BEFORE sizing any buffer by it — zero frames,
    // no multi-GB allocation; E: truncated tkhd (8-byte payload) must
    // sentinel, not read neighbor-box bytes as width/height; F: unsigned
    // stsz sample_size ≥ 2^31 reads negative and must sentinel, not take
    // the unvalidated table branch
    val stszHuge = box("stsz", java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(1).putInt(2000000000).array())
    val fileD = cat(ftyp, box("moov", cat(mvhd, trak("vide", 8, 8, stszHuge))),
      box("mdat", new Array[Byte](4)))
    val trakShortTkhd = box("trak", cat(box("tkhd", new Array[Byte](8)),
      box("mdia", cat(mdhd, hdlr("vide"),
        box("minf", box("stbl", stszVide))))))
    val fileE = cat(ftyp, box("moov", cat(mvhd, trakShortTkhd)),
      box("mdat", new Array[Byte](32)))
    val stszNeg = box("stsz", java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(0xffffffff).putInt(2).array())
    val fileF = cat(ftyp, box("moov", cat(mvhd, trak("vide", 8, 8, stszNeg))),
      box("mdat", new Array[Byte](32)))
    val ds2 = spark.createDataset(Seq(
      Multimodal.MediaRow(4L, "video", fileD),
      Multimodal.MediaRow(5L, "video", fileE),
      Multimodal.MediaRow(6L, "video", fileF)))
    assert(Multimodal.frameSample(ds2, everyN = 1).collect().isEmpty)
    val meta2 = Multimodal.decodeVideoMeta(ds2).collect().map(m => m.doc_id -> m).toMap
    assert(meta2(5L).width == -1, "truncated tkhd must sentinel")
    assert(meta2(6L).width == -1, "negative-read sample_size must sentinel")
  }

  test("video: multi-chunk stsc/stco demuxer addressing, co64, half-present tables") {
    import spark.implicits._
    import Mp4Kit.{box, cat, ftyp, mvhd, trak}
    // G: 5 variable-size samples [3,5,2,4,6] split over TWO chunks —
    // stsc runs (1→3 samples, 2→2 samples) — with 4 junk bytes between
    // the chunks inside mdat: a contiguous-from-mdat slicer would return
    // the junk as frame bytes; real stco addressing must skip it
    val stszG = box("stsz", java.nio.ByteBuffer.allocate(32)
      .putInt(0).putInt(0).putInt(5)
      .putInt(3).putInt(5).putInt(2).putInt(4).putInt(6).array())
    val stscG = box("stsc", java.nio.ByteBuffer.allocate(32)
      .putInt(0).putInt(2)
      .putInt(1).putInt(3).putInt(1)   // chunks 1..1: 3 samples each
      .putInt(2).putInt(2).putInt(1).array()) // chunks 2..: 2 samples each
    def stcoG(off1: Int, off2: Int) = box("stco", java.nio.ByteBuffer.allocate(16)
      .putInt(0).putInt(2).putInt(off1).putInt(off2).array())
    def moovG(off1: Int, off2: Int) = box("moov", cat(mvhd,
      trak("vide", 64, 32, cat(stszG, stscG, stcoG(off1, off2)))))
    val mdatPayloadOff = ftyp.length + moovG(0, 0).length + 8
    val off1 = mdatPayloadOff            // chunk 1: samples 0,1,2 (10 bytes)
    val off2 = mdatPayloadOff + 10 + 4   // chunk 2 after 4 junk bytes
    val chunk1 = Array.tabulate[Byte](10)(i => (i + 1).toByte)
    val junk = Array.fill[Byte](4)(0x7f.toByte)
    val chunk2 = Array.tabulate[Byte](10)(i => (i + 11).toByte)
    val fileG = cat(ftyp, moovG(off1, off2), box("mdat", cat(chunk1, junk, chunk2)))
    // H: same single-chunk layout via co64 (8-byte offsets)
    val stszH = box("stsz", java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(4).putInt(3).array()) // 3 uniform 4-byte samples
    val stscH = box("stsc", java.nio.ByteBuffer.allocate(20)
      .putInt(0).putInt(1).putInt(1).putInt(3).putInt(1).array())
    def co64H(off: Long) = box("co64", java.nio.ByteBuffer.allocate(16)
      .putInt(0).putInt(1).putLong(off).array())
    def moovH(off: Long) = box("moov", cat(mvhd,
      trak("vide", 64, 32, cat(stszH, stscH, co64H(off)))))
    val offH = ftyp.length + moovH(0L).length + 8
    val fileH = cat(ftyp, moovH(offH.toLong),
      box("mdat", Array.tabulate[Byte](12)(i => (40 + i).toByte)))
    // I: HALF-PRESENT chunk tables (stsc without stco) — unaddressable;
    // must quarantine (sentinel meta, zero frames), not guess
    val fileI = cat(ftyp, box("moov", cat(mvhd,
      trak("vide", 64, 32, cat(stszH, stscH)))),
      box("mdat", new Array[Byte](12)))
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", fileG),
      Multimodal.MediaRow(2L, "video", fileH),
      Multimodal.MediaRow(3L, "video", fileI)))
    val fr = Multimodal.frameSample(ds, everyN = 1).collect()
    val g = fr.filter(_.doc_id == 1L).sortBy(_.frame_idx)
    assert(g.map(_.frame.length).toSeq == Seq(3, 5, 2, 4, 6), s"got ${g.map(_.frame.length).toSeq}")
    assert(g.flatMap(_.frame).toSeq == ((1 to 20).map(_.toByte)).toSeq,
      "multi-chunk slicing must skip the inter-chunk junk bytes")
    val hFr = fr.filter(_.doc_id == 2L).sortBy(_.frame_idx)
    assert(hFr.map(_.frame.toSeq).toSeq ==
      Seq((40 to 43), (44 to 47), (48 to 51)).map(_.map(_.toByte)))
    assert(fr.count(_.doc_id == 3L) == 0, "half-present chunk tables must emit no frames")
    val meta = Multimodal.decodeVideoMeta(ds).collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).n_frames == 5 && meta(2L).n_frames == 3)
    assert(meta(3L).width == -1, "half-present chunk tables must sentinel")
  }
}
