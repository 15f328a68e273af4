package graft

import graft.functions.{Dates, SpanFns, Text}
import graft.model.{Doc, Span}
import graft.operators.{Dedup, Skew}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY §5.3) — scalacheck generators with
  * a FIXED seed (deterministic CI), checked through plain Prop so no
  * scalatestplus bridge is needed. Spark-evaluated properties batch the
  * generated cases into one DataFrame per property (a forAll that
  * launches a job per case would take minutes).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def check(p: Prop, cases: Int = 60): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(cases)
      .withInitialSeed(Seed(42L))
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private val genSpan: Gen[(String, String, String)] = for {
    kind <- Gen.oneOf("text", "media")
    text <- Gen.alphaNumStr.map(_.take(12))
    ref <- Gen.alphaNumStr.map(s => s"media://${s.take(8)}")
  } yield if (kind == "text") (kind, text, null) else (kind, null, ref)

  test("spans_sig is a function of (kind,text,media_ref,offset) content, not array order") {
    val genDoc = for {
      spans <- Gen.nonEmptyListOf(genSpan)
      perm <- Gen.const(()) // permutation applied below via scala shuffle with fixed rnd
    } yield spans.zipWithIndex.map { case ((k, t, m), i) => Span(k, t, m, i) }
    check(Prop.forAll(genDoc, Gen.long) { (spans, permSeed) =>
      val shuffled = new scala.util.Random(permSeed).shuffle(spans)
      val sig = Seq(Doc("d", spans)).toDF()
        .select(SpanFns.spansSig($"spans")).first().getString(0)
      val sigShuffled = Seq(Doc("d", shuffled)).toDF()
        .select(SpanFns.spansSig($"spans")).first().getString(0)
      sig == sigShuffled
    }, cases = 30)
  }

  test("date normalizer never throws; parse is pure (same input -> same struct)") {
    // arbitrary strings + date-shaped strings, evaluated in ONE batch
    val genDateish = for {
      y <- Gen.chooseNum(1, 2200)
      m <- Gen.chooseNum(1, 12)
      d <- Gen.chooseNum(1, 28)
      v <- Gen.chooseNum(0, graft.fixtures.BioGen.dateVariants - 1)
    } yield graft.fixtures.BioGen.dateSurface(v, y, m, d)._1
    val gen = Gen.oneOf(Gen.asciiPrintableStr.map(_.take(20)), genDateish)
    val cases = Gen.listOfN(400, gen).apply(Gen.Parameters.default, Seed(7L)).get
    val out = cases.toDF("s")
      .select($"s", Dates.normDate($"s").as("t"), Dates.renderTime(Dates.normDate($"s")).as("r"))
      .collect() // must not throw on ANY input
    assert(out.length === cases.length)
    val again = cases.toDF("s")
      .select($"s", Dates.normDate($"s").as("t"), Dates.renderTime(Dates.normDate($"s")).as("r"))
      .collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("tokenizer+tagger total and pure over arbitrary strings") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val a = Text.tokenizeTag(s)
      val b = Text.tokenizeTag(s)
      a == b && a.length == Text.tokenize(s).length
    })
  }

  test("minhash: sigJaccard(a,a)=1, symmetric, bounded [0,1]") {
    check(Prop.forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (s1, s2) =>
      val (a, b) = (Dedup.minhash(s1), Dedup.minhash(s2))
      val j = Dedup.sigJaccard(a, b)
      Dedup.sigJaccard(a, a) == 1.0 &&
        j == Dedup.sigJaccard(b, a) && j >= 0.0 && j <= 1.0
    })
  }

  test("cluster collapse is idempotent and respects pair connectivity") {
    val genPairs = Gen.nonEmptyListOf(for {
      a <- Gen.chooseNum(0L, 30L)
      b <- Gen.chooseNum(0L, 30L) if a != b
    } yield (a, b))
    check(Prop.forAll(genPairs) { pairs =>
      val df = pairs.toDF("doc_a", "doc_b")
      val c = Dedup.clusters(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every edge endpoint shares its partner's label; rep is a member <= node
      pairs.forall { case (a, b) => c(a) == c(b) } &&
        c.forall { case (n, rep) => rep <= n && c(rep) == rep }
    }, cases = 8) // each case runs the iterative collapse (several jobs)
  }

  test("span scrub: identical docs fully cover, unique docs untouched (arbitrary texts)") {
    import graft.operators.SpanDedup
    val genWords = Gen.listOfN(12, Gen.oneOf(
      "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november"))
    // batch: k random 12-token texts; docs 2i/2i+1 share text (dup
    // pair), plus k unique salted singletons
    val gen = Gen.listOfN(6, genWords)
    check(Prop.forAll(gen) { texts =>
      val rows =
        texts.zipWithIndex.flatMap { case (ws, i) =>
          val t = ws.mkString(" ")
          Seq((i * 10L, t), (i * 10L + 1, t)) // identical pair
        } ++ texts.zipWithIndex.map { case (ws, i) =>
          // unique: salt with a doc-specific token so no cross-doc window
          (1000L + i, (s"zq$i" +: ws.take(4)).mkString(" "))
        }
      val out = SpanDedup.spanScrub(rows.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> r).toMap
      val md5empty = java.security.MessageDigest.getInstance("MD5")
        .digest("".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val pairsFullyCovered = texts.indices.forall { i =>
        val a = out(i * 10L); val b = out(i * 10L + 1)
        // 12 tokens, W=8 -> 5 windows, all shared -> every position covered
        a.getInt(3) === 12 && b.getInt(3) === 12 &&
          a.getString(4) == md5empty && b.getString(4) == md5empty
      }
      // singletons are < W + unique-prefixed: zero dup windows
      val singletonsClean = texts.indices.forall(i => out(1000L + i).getInt(2) === 0)
      pairsFullyCovered && singletonsClean
    }, cases = 3)
  }

  test("BPE counts: >= 1 token per word, cache-capped == uncached, encoder-independent") {
    import graft.functions.Bpe
    val genWord = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(12))
    check(Prop.forAll(Gen.listOfN(20, genWord)) { words =>
      val e1 = new Bpe.Encoder(Bpe.defaultMerges)
      val e2 = new Bpe.Encoder(Bpe.defaultMerges)
      val text = words.mkString(" ")
      words.forall(w => e1.countWord(w) >= 1 && e1.countWord(w) == e1.encodeWord(w).length) &&
        e1.countText(text) == e2.countText(text) &&
        e1.countText(text) == words.map(e2.countWord).sum
    }, cases = 20)
  }

  test("greedy packing conserves tokens and docs for arbitrary corpora") {
    import graft.operators.TextAnalysis
    // n in [1, 400] < budget: contiguity-from-0 only holds when no
    // single doc spans a whole budget (a 600-token doc at cum=600
    // legitimately lands in pack 1 with pack 0 skipped), and a
    // LEADING zero-token doc would land at floor(-1/512) = pack -1
    // on both engines
    val genRow = for {
      id <- Gen.chooseNum(0L, 5000L)
      src <- Gen.oneOf("a", "b", "c")
      n <- Gen.chooseNum(1, 400)
    } yield (id, src, n)
    check(Prop.forAll(Gen.listOfN(60, genRow)) { rows0 =>
      val rows = rows0.distinctBy(_._1) // doc_id unique
      val df = rows.toDF("doc_id", "source", "n_tokens")
      val packs = TextAnalysis.packGreedyOver(df, 512, 8).collect()
      val tokensConserved =
        packs.map(_.getLong(4)).sum == rows.map(_._3.toLong).sum
      val docsConserved = packs.map(_.getLong(3)).sum == rows.size.toLong
      // within each (source, shard), pack ids are contiguous from 0
      val contiguous = packs.groupBy(r => (r.getString(0), r.getLong(1)))
        .forall { case (_, ps) =>
          val ids = ps.map(_.getLong(2)).sorted
          ids.head == 0L && ids.zip(ids.tail).forall { case (a, b) => b == a + 1 }
        }
      tokensConserved && docsConserved && contiguous
    }, cases = 5)
  }

  test("salted join == plain join for arbitrary salt and skew") {
    val genData = for {
      salt <- Gen.chooseNum(1, 8)
      nHot <- Gen.chooseNum(0, 20)
    } yield (salt, nHot)
    check(Prop.forAll(genData) { case (salt, nHot) =>
      val probe = ((0 until 40).map(i => (i % 7, i)) ++ Seq.fill(nHot)((0, 999)))
        .toDF("k", "v")
      val dim = (0 until 7).map(i => (i, s"d$i")).toDF("dk", "name")
      val salted = Skew.saltedJoin(probe, dim, Seq("k"), Seq("dk"), salt,
          Skew.heavyHitters(probe, "k", 3).select("k"))
        .select("k", "v", "name").collect().map(_.toString).sorted.toSeq
      val plain = probe.join(dim, $"k" === $"dk")
        .select("k", "v", "name").collect().map(_.toString).sorted.toSeq
      salted == plain
    }, cases = 10)
  }
}
