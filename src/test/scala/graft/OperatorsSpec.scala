package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, Stage1, Stage2}
import graft.lineage.Checkpoint
import graft.model.ClipRow
import graft.lid.LidModels

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val base = "die regierung hat gestern über das neue gesetz beraten und entschieden"
  lazy val docs = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replace("gestern", "heute")), // near dup of 0
    (3L, "completely different text about fish and chips in the harbor"),
    (4L, "le gouvernement a discuté hier du nouveau projet pour la ville"),
    (5L, "  " + base.toUpperCase + "  ") // dup modulo normalization
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized-identical texts") {
    val r = Dedup.exact(docs, "doc_id", "text").collect()
    val grp = r.find(_.getLong(2) == 3).get // docs 0, 1, 5
    assert(grp.getLong(1) == 0L) // keeper = min id
    assert(r.length == 4) // 3-dup group + 3 singletons
  }

  test("ngram jaccard finds the near-dup pair and not the unrelated one") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text",
      n = 3, threshold = 0.7, maxShingleDf = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)), s"missing near-dup: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("decontaminate flags only docs sharing an n-shingle with the " +
      "benchmark, with exact hit/total counts") {
    val bench = Seq((100L, "the secret benchmark passage nobody should train on"))
      .toDF("doc_id", "text")
    val train = Seq(
      // contains a verbatim benchmark span (> n chars)
      (1L, "intro text then the secret benchmark passage nobody saw plus outro"),
      // clean doc, no 10-char overlap
      (2L, "ein ganz anderer deutscher text über etwas völlig anderes"),
      // blank doc: no shingles, never flagged
      (3L, "   ")
    ).toDF("doc_id", "text")
    val r = Dedup.decontaminate(train, bench, "doc_id", "text",
      n = 10, minHits = 1).collect()
    assert(r.map(_.getLong(0)).toSet == Set(1L), r.mkString("|"))
    val row = r.head
    val hits = row.getLong(1)
    val total = row.getLong(2)
    // exact expected hit count: distinct 10-char windows of doc 1 that
    // are also windows of the benchmark text — the shared region is
    // "the secret benchmark passage nobody s" (38 chars => 29 windows,
    // all distinct here)
    val norm1 = "intro text then the secret benchmark passage nobody saw plus outro"
    val normB = "the secret benchmark passage nobody should train on"
    val w1 = (0 to norm1.length - 10).map(i => norm1.substring(i, i + 10)).toSet
    val wB = (0 to normB.length - 10).map(i => normB.substring(i, i + 10)).toSet
    assert(hits == (w1 & wB).size.toLong)
    assert(total == w1.size.toLong)
    assert(math.abs(row.getDouble(3) - hits.toDouble / total) < 1e-4)
    // the hashed (production-broadcast) mode returns identical rows
    val rh = Dedup.decontaminate(train, bench, "doc_id", "text",
      n = 10, minHits = 1, hashed = true).collect()
    assert(rh.map(_.toString).sorted.toSeq ==
      r.map(_.toString).sorted.toSeq)
  }

  test("audio fingerprint match pairs a time-shifted volume-scaled copy " +
      "with the exact frame offset; band-energy cosine cannot") {
    // original melody (id 0), copy delayed by exactly 2 hops and scaled
    // (id 1), unrelated melody (id 2)
    val orig = graft.model.AudioGen.melodyClip(7L)
    val shifted = new Array[Short](orig.length)
    var i = 512
    while (i < orig.length) {
      shifted(i) = (orig(i - 512) * 0.7).toShort; i += 1
    }
    val other = graft.model.AudioGen.melodyClip(99L)
    val df = Seq(
      (0L, "pcm_s16le", graft.codec.Audio.pcm16Encode(orig)),
      (1L, "pcm_s16le", graft.codec.Audio.pcm16Encode(shifted)),
      (2L, "pcm_s16le", graft.codec.Audio.pcm16Encode(other))
    ).toDF("id", "codec", "bytes")
    val r = Dedup.audioFingerprintMatch(df, "id", "bytes", "codec",
      minMatches = 12).collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSet == Set((0L, 1L)),
      r.mkString("|"))
    // dominant alignment = original anchors lag the copy's by 2 frames,
    // recovered exactly from the delta histogram
    assert(r.head.getInt(3) == -2, r.head.toString)
    // strong alignment evidence, not a borderline pass
    assert(r.head.getLong(2) >= 20, s"weak match: ${r.head}")
  }

  test("audio fingerprint match: time-shift invariance of the hash set " +
      "(same landmarks, anchors displaced by the shift)") {
    val orig = graft.model.AudioGen.melodyClip(11L)
    val shifted = new Array[Short](orig.length)
    var i = 512
    while (i < orig.length) { shifted(i) = orig(i - 512); i += 1 }
    val lo = graft.codec.Fft.peakLandmarks(orig)
    val ls = graft.codec.Fft.peakLandmarks(shifted)
    assert(lo != null && ls != null)
    def byHash(a: Array[Long]) =
      a.map(m => ((m >>> 32).toInt, (m & 0xffffffffL).toInt))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ho = byHash(lo); val hs = byHash(ls)
    // most original hashes reappear in the shifted clip with anchors +2
    val shared = ho.keySet & hs.keySet
    assert(shared.size >= (ho.size * 6) / 10,
      s"only ${shared.size}/${ho.size} hashes survive the shift")
    val aligned = shared.count(h => hs(h).exists(t => ho(h).contains(t - 2)))
    assert(aligned >= (shared.size * 6) / 10,
      s"only $aligned/${shared.size} shared hashes align at +2")
  }

  test("null/blank transcripts never co-cluster in any batch tier") {
    // same contract as the streaming dedup: nothing to compare = not a
    // duplicate; empty docs keep themselves (their payloads survive)
    val d = Seq((1L, null: String), (2L, "   "), (3L, ""),
      (4L, "ein echter text mit inhalt hier drin"))
      .toDF("doc_id", "text")
    val ex = Dedup.exact(d, "doc_id", "text").collect()
    assert(ex.length == 4 && ex.forall(_.getLong(2) == 1L), ex.mkString("|"))
    assert(Dedup.minHashLsh(d, "doc_id", "text", threshold = 0.0)
      .collect().isEmpty)
    assert(Dedup.simHash(d, "doc_id", "text").collect().isEmpty)
    assert(Dedup.ngramJaccard(d, "doc_id", "text", threshold = 0.0)
      .collect().isEmpty)
  }

  test("pair tiers reject a string id column loudly (no silent empties)") {
    val sdf = Seq(("clip-a", "some text here"), ("clip-b", "more text"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashLsh(sdf, "doc_id", "text")
    }
    assert(e.getMessage.contains("integral id column"), e.getMessage)
    intercept[IllegalArgumentException] {
      Dedup.simHash(sdf, "doc_id", "text")
    }
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(sdf, "doc_id", "text")
    }
  }

  test("mulModP is the exact (a*x) mod (2^61-1) — BigInt cross-check") {
    val rnd = new scala.util.Random(3)
    val P = (1L << 61) - 1
    // random draws plus the boundary corners
    val corners = Seq(0L, 1L, 2L, P - 1, P - 2, 1L << 60)
    val draws = (0 until 5000).map(_ => math.abs(rnd.nextLong()) % P)
    val vals = corners ++ draws
    // corner x corner covers the maximal 122-bit products ((P-1)^2,
    // 2^120, ...); zip covers corner x random and random x random
    val pairs = (for (a <- corners; x <- corners) yield (a, x)) ++
      vals.zip(vals.reverse)
    pairs.foreach { case (a, x) =>
      val expect = ((BigInt(a) * BigInt(x)) mod BigInt(P)).toLong
      assert(Dedup.mulModP(a, x) == expect, s"a=$a x=$x")
    }
  }

  test("shingleHashes == shingles.map(fnv64) as a set (r6 hashed hot path)") {
    import graft.lid.TextStats
    val cases = Seq(
      base, // normal prose
      base.replace("gestern", "heute"),
      "kurz", // shorter than n -> whole-norm hash
      "  a\t b\n  c  ", // whitespace runs to collapse
      "café über straße œuvre", // accents / ligature
      "", // empty -> empty
      null, // null -> empty
      "aaaaaaaaaaaaaaaa", // maximal duplicate windows
      "x" * 3000) // long doc, many windows
    for (t <- cases; n <- Seq(3, 5, 8)) {
      val viaStrings = TextStats.shingles(t, n).map(TextStats.fnv64)
      val direct = TextStats.shingleHashes(t, n).toSet
      assert(direct == viaStrings, s"n=$n text=${Option(t).map(_.take(20))}")
    }
  }

  test("signatureOfHashes bit-identical to string-set signature; dup input is a no-op") {
    import graft.lid.TextStats
    for (t <- Seq(base, base.replace("gestern", "heute"), "ab", "x" * 500);
         k <- Seq(16, 64)) {
      val viaStrings = Dedup.signature(TextStats.shingles(t, 5), k)
      val viaHashes = Dedup.signatureOfHashes(TextStats.shingleHashes(t, 5), k)
      assert(viaStrings.sameElements(viaHashes), s"k-perm k=$k")
      val viaStringsO = Dedup.signatureOph(TextStats.shingles(t, 5), 64, 16)
      val viaHashesO =
        Dedup.signatureOphOfHashes(TextStats.shingleHashes(t, 5), 64, 16)
      assert(viaStringsO.sameElements(viaHashesO), "oph")
      // min is idempotent per hash: duplicated hashes change nothing
      val hs = TextStats.shingleHashes(t, 5)
      assert(Dedup.signatureOfHashes(hs ++ hs, k).sameElements(viaHashes))
    }
  }

  test("minhash estimate tracks true jaccard within 0.15") {
    val sa = graft.lid.TextStats.shingles(base, 5)
    val sb = graft.lid.TextStats.shingles(base.replace("gestern", "heute"), 5)
    val trueJ = sa.intersect(sb).size.toDouble / sa.union(sb).size
    val siga = Dedup.signature(sa, 128)
    val sigb = Dedup.signature(sb, 128)
    val est = siga.zip(sigb).count { case (x, y) => x == y } / 128.0
    info(f"true=$trueJ%.3f est=$est%.3f")
    assert(math.abs(trueJ - est) < 0.15)
  }

  test("minhash LSH surfaces the near-dup pair") {
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
      n = 5, numHashes = 64, bands = 32, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)), s"got $pairs")
  }

  test("repeatedSpans: winnowing finds PHASE-SHIFTED shared regions >= w+g-1") {
    // the shared region sits at DIFFERENT offsets in the two docs — a
    // plain stride-8 grid would sample phase-shifted windows and miss
    // it; winnowing's content-local min rule cannot
    val shared = "der gemeinderat hat das neue budget gestern abend final" // 55 >= 40+8-1
    val a = s"kurzer anfang $shared und noch ein ende hier"
    val b = s"ein voellig anderer und laengerer einstieg text $shared schluss"
    val c = "dieser text teilt mit den anderen keinerlei gemeinsame passagen irgendwo"
    val d = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(d, "doc_id", "text",
      window = 40, guarantee = 8, minDocs = 2).collect()
    assert(out.nonEmpty, "no shared span found")
    out.foreach { r =>
      // the truly-shared region includes the flanking spaces both docs
      // carry around the planted sentence
      assert((" " + shared + " ").contains(r.getString(0)),
        s"span outside the shared region: '${r.getString(0)}'")
      assert(r.getLong(1) == 2 && r.getLong(2) == 1L)
    }
    // determinism
    val again = Dedup.repeatedSpans(d, "doc_id", "text",
      window = 40, guarantee = 8, minDocs = 2).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("repeatedSpans: winnow guarantee holds at the MINIMAL region " +
      "length, every seed, both hash modes") {
    // the guarantee — any shared region of >= window+guarantee-1 chars
    // yields a shared selected span — must hold for EVERY content, not
    // just friendly hash draws. The pre-r4 forward-min rule ([i, i+g)
    // minimum) failed exactly here: in a decreasing-hash run no position
    // owns its forward window, so some seeds shared nothing. True
    // winnowing (rightmost-min of every g-window) cannot miss. Regions
    // are planted at the MINIMAL qualifying length (w+g-1 = 27) with
    // per-seed random flanks — different flank content shifts the
    // region's phase and surrounding hashes each time.
    val w = 20
    val g = 8
    val rnd = new scala.util.Random(11)
    def randText(len: Int): String =
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    (0 until 25).foreach { seed =>
      val region = randText(w + g - 1) // exactly the guarantee bound
      val a = s"${randText(30 + seed)} $region ${randText(25)}"
      val b = s"${randText(55 - seed)} $region ${randText(40)}"
      val d = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      Seq("md5", "roll").foreach { mode =>
        val out = Dedup.repeatedSpans(d, "doc_id", "text",
          window = w, guarantee = g, minDocs = 2, hashMode = mode)
          .collect()
        assert(out.nonEmpty, s"seed=$seed mode=$mode: guarantee violated")
        // shared spans must come from the planted region (flanks differ)
        out.foreach(r => assert((" " + region + " ").contains(r.getString(0)),
          s"seed=$seed mode=$mode span '${r.getString(0)}' outside region"))
      }
    }
  }

  test("repeatedSpans: md5 fast byte-slice path ≡ substring path " +
      "(non-ASCII + surrogate fallback)") {
    // é/ü exercise the 2-byte offsets of the single-encoding fast path;
    // the emoji (surrogate pair) forces the fallback branch — both must
    // select identical spans for identical content
    val shared = "gemeinsame Passage über die Bücherei und Kaffee"
    val d = Seq(
      (1L, s"Ein müder Anfang hier 😀 $shared und Schluss"),
      (2L, s"Ganz anderes Vorwort über Wälder $shared endgültig")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(d, "doc_id", "text",
      window = 30, guarantee = 6, minDocs = 2).collect()
    assert(out.nonEmpty)
    out.foreach(r =>
      assert((" " + shared.toLowerCase + " ").contains(r.getString(0)),
        s"'${r.getString(0)}'"))
  }

  test("minHashLshVerified outputs EXACT jaccard for every emitted pair") {
    val out = Dedup.minHashLshVerified(docs, "doc_id", "text",
      n = 5, numHashes = 64, bands = 32,
      candidateThreshold = 0.3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // exact all-pairs reference over the same normalized 5-gram space
    def sh(t: String) = graft.lid.TextStats.shingles(t, 5)
    val rows = docs.collect().map(r => r.getLong(0) -> r.getString(1))
    val exact = (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      j = sh(ta).intersect(sh(tb)).size.toDouble / sh(ta).union(sh(tb)).size
      if j >= 0.5
    } yield (a, b) -> j).toMap
    assert(out.keySet == exact.keySet, s"spark=$out exact=$exact")
    out.foreach { case (k, v) =>
      assert(math.abs(v - exact(k)) < 1e-3, s"$k: $v vs ${exact(k)}")
    }
  }

  test("one-permutation-hashing estimate tracks true jaccard") {
    val sa = graft.lid.TextStats.shingles(base, 5)
    val sb = graft.lid.TextStats.shingles(base.replace("gestern", "heute"), 5)
    val trueJ = sa.intersect(sb).size.toDouble / sa.union(sb).size
    val est = Dedup.signatureOph(sa, 256).zip(Dedup.signatureOph(sb, 256))
      .count { case (x, y) => x == y } / 256.0
    info(f"true=$trueJ%.3f oph-est=$est%.3f")
    assert(math.abs(trueJ - est) < 0.15)
    // identical sets → identical signature (incl. densified bins)
    assert(Dedup.signatureOph(sa, 256).sameElements(Dedup.signatureOph(sa, 256)))
  }

  test("embedding LSH near-dup: exact-verified, high recall vs cross join") {
    import org.apache.spark.sql.functions.col
    // 40 vectors in 4 tight clusters (dim 16): same-cluster cosine is
    // high, cross-cluster low
    val vecs = (0L until 40L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(16)(d =>
        (if (d * 4 / 16 == c) 10.0f else 0.0f) +
          (((i * 31 + d * 7) % 13) - 6) * 0.05f)
      (i, v)
    }.toDF("vec_id", "embedding")
    // exact reference: all pairs with cosine >= 0.9
    val exact = Dedup.embeddingCosine(vecs, "vec_id", "embedding",
      threshold = 0.9, anchorMod = 1L) // anchorMod=1 → full cross join
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingCosineLsh(vecs, "vec_id", "embedding",
      dim = 16, threshold = 0.9, planes = 6).collect()
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    // verified-exact: every LSH hit is a true >= 0.9 pair
    assert(lshPairs.subsetOf(exact), s"false positives: ${lshPairs -- exact}")
    val recall = (exact intersect lshPairs).size.toDouble / exact.size
    info(f"embedding-LSH recall = $recall%.2f (${lshPairs.size}/${exact.size})")
    assert(recall >= 0.8, s"recall $recall")
    // multi-probe should find at least as many pairs as exact-bucket only
    val noProbe = Dedup.embeddingCosineLsh(vecs, "vec_id", "embedding",
      dim = 16, threshold = 0.9, planes = 6, multiProbe = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(noProbe.subsetOf(lshPairs))
  }

  test("embedding LSH at scale planes (24+): planted near-identical " +
      "pairs all recovered; autoPlanes self-scales") {
    import org.apache.spark.sql.functions.col
    // autoPlanes = ceil-log2 + 8, clamped to [16, 40]
    assert(Dedup.autoPlanes(1L) == 16)
    assert(Dedup.autoPlanes(256L) == 16)
    assert(Dedup.autoPlanes(65536L) == 24)
    assert(Dedup.autoPlanes(1L << 20) == 28)
    assert(Dedup.autoPlanes(Long.MaxValue) == 40)
    // 300 spread base vectors (dim 32) + 20 planted near-identical
    // copies (relative noise ~1e-3 → cos ≈ 0.9999+, sketches differ
    // by ≤1 bit w.h.p. — the multi-probe envelope). planes=24 is the
    // autoPlanes regime for a 10^5-doc corpus; buckets are 2^24 so
    // nothing co-buckets by chance.
    val base = (0L until 300L).map { i =>
      val v = Array.tabulate(32) { d =>
        (graft.util.Mix.mix(i * 97L + d).toDouble / Long.MaxValue).toFloat
      }
      (i, v)
    }
    val planted = (0L until 20L).map { k =>
      val src = base(k.toInt * 7)._2
      val v = Array.tabulate(32) { d =>
        src(d) + ((graft.util.Mix.mix(k * 131L + d).toDouble /
          Long.MaxValue) * 1e-3).toFloat
      }
      (1000L + k, v)
    }
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    val found = Dedup.embeddingCosineLsh(vecs, "vec_id", "embedding",
      dim = 32, threshold = 0.999, planes = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 20L).map(k => (k * 7, 1000L + k)).toSet
    assert(expected.subsetOf(found),
      s"missed planted pairs: ${expected -- found}")
  }

  test("minhash LSH in OPH mode still surfaces the near-dup pair") {
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
      n = 5, numHashes = 64, bands = 32, threshold = 0.4, oph = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)), s"got $pairs")
  }

  test("components: chains, stars, and disjoint clusters get min-id labels") {
    // chain 0-1-2-...-9 (diameter 9 forces multiple propagation rounds),
    // star centered at 20, and an isolated pair
    val pairs = ((0L until 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (20L, 23L), (30L, 31L)))
      .toDF("a", "b")
    val labels = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 9L).foreach(i => assert(labels(i) == 0L, s"chain node $i"))
    (20L to 23L).foreach(i => assert(labels(i) == 20L, s"star node $i"))
    assert(labels(30L) == 30L && labels(31L) == 30L)
    assert(labels.size == 16)
    // the two tiers must agree label-for-label: driverMaxEdges = 0
    // forces the distributed propagation loop on the same graph
    val distributed = Dedup.components(pairs, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == labels)
  }

  test("components/keepPolicy on ZERO duplicate pairs: everyone keeps") {
    // a corpus with no duplicates is a perfectly valid input — the
    // convergence label-sum must coalesce the empty-frame NULL, not NPE
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.components(empty).collect().isEmpty)
    // negative threshold forces the DISTRIBUTED loop even on zero edges
    // — the tier whose label-sum must coalesce the empty-frame NULL
    assert(Dedup.components(empty, driverMaxEdges = -1L).collect().isEmpty)
    val policy = Dedup.keepPolicy(docs, "doc_id", empty).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(policy.size == 6)
    policy.foreach { case (id, (label, keep)) =>
      assert(label == id && keep, s"id $id")
    }
  }

  test("keepPolicy: one keeper per duplicate cluster, singletons kept") {
    // real near-dup pairs from the exact tier feed the policy
    val pairs = Seq((0L, 1L), (1L, 5L)).toDF("a", "b") // 0,1,5 one cluster
    val policy = Dedup.keepPolicy(docs, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(policy(0L) == (0L, true)) // cluster keeper
    assert(policy(1L) == (0L, false))
    assert(policy(5L) == (0L, false))
    Seq(2L, 3L, 4L).foreach(i => assert(policy(i) == (i, true))) // singletons
    assert(policy.values.count(_._2) == 4) // 1 keeper + 3 singletons
  }

  test("simhash: near-identical texts land within small hamming distance") {
    val h0 = Dedup.simHash64(base)
    val h2 = Dedup.simHash64(base.replace("gestern", "heute"))
    val h3 = Dedup.simHash64("completely different text about fish")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    info(s"near=${ham(h0, h2)} far=${ham(h0, h3)}")
    assert(ham(h0, h2) < ham(h0, h3))
    // chunk count sized to the pigeonhole guarantee the query needs
    // (the operator rejects maxHamming > chunks-1 — recall honesty)
    val ham02 = ham(h0, h2)
    val chunks = Seq(4, 8, 16, 32, 64).find(_ - 1 >= ham02).get
    val pairs = Dedup.simHash(docs, "doc_id", "text",
      maxHamming = ham02, chunks = chunks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)))
    // parameters beyond the guarantee are rejected, not silently weak
    intercept[IllegalArgumentException] {
      Dedup.simHash(docs, "doc_id", "text", maxHamming = 10, chunks = 4)
    }
  }

  test("multi-table hamming scheme: hot shared block stays ~linear " +
      "where single-block keys explode; recall still total") {
    // adversarial corpus: every hash shares its LOW 16 BITS (shared
    // boilerplate bits — exactly one full block of the chunks=4
    // scheme), all other bits random. chunks=4 keys table 0 on those 16
    // bits alone → all n docs in ONE bucket → C(n,2) candidate pairs.
    // chunks=6 keys every table on 3 blocks (~32 bits), so each key
    // includes random bits and candidates stay near-linear.
    val n = 2000
    val shared = 0xBEEFL
    val hashes = (0 until n).map { i =>
      val r = graft.util.Mix.mix(i.toLong) & ~0xFFFFL
      (i.toLong, r | shared)
    }.toDF("id", "sh")
    val c4 = Dedup.hammingCandidateCount(hashes, maxHamming = 3, chunks = 4)
    val c6 = Dedup.hammingCandidateCount(hashes, maxHamming = 3, chunks = 6)
    info(s"candidates: chunks=4 -> $c4, chunks=6 -> $c6 (n=$n)")
    assert(c4 >= n.toLong * (n - 1) / 2, s"hot block should explode c4: $c4")
    assert(c6 < c4 / 100, s"multi-table keys should stay ~linear: $c6")
    // recall: plant hamming-1..3 neighbors of doc 0 and find them all
    val base = hashes.collect()(0).getLong(1)
    val planted = Seq(
      (9000L, base ^ 1L), // hamming 1
      (9001L, base ^ (1L << 20) ^ (1L << 45)), // hamming 2
      (9002L, base ^ (1L << 5) ^ (1L << 30) ^ (1L << 63))) // hamming 3
    val withPlanted = hashes.union(planted.toDF("id", "sh"))
    val found = Dedup.hammingPairs(withPlanted, maxHamming = 3, chunks = 6)
      .filter(col("a") === 0L && col("b") >= 9000L)
      .collect().map(_.getLong(1)).toSet
    assert(found == Set(9000L, 9001L, 9002L), s"found $found")
    // and the two schemes agree on the OUTPUT pair set (scheme only
    // changes candidate generation, never the verified result)
    val p4 = Dedup.hammingPairs(withPlanted.filter(col("id") < 50 ||
        col("id") >= 9000L), maxHamming = 3, chunks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val p6 = Dedup.hammingPairs(withPlanted.filter(col("id") < 50 ||
        col("id") >= 9000L), maxHamming = 3, chunks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(p4 == p6, s"scheme changed the output: ${p4.diff(p6)} ${p6.diff(p4)}")
  }

  test("audio near-dup: planted volume+noise+codec copies recovered") {
    import graft.codec.Audio
    val n = 40L
    val base = (0L until n).map { i =>
      (i, "pcm_s16le", Audio.pcm16Encode(Audio.synth(i, 8000, 4096)))
    }
    // planted copies stress all three robustness axes at once: volume
    // 0.85x, fresh jitter, and a μ-law re-encode
    val dups = (0L until n / 10).map { k =>
      val pcm = Audio.synth(k * 10, 8000, 4096)
      var st = k * 977L
      val mod = pcm.map { v =>
        st = st * 6364136223846793005L + 1442695040888963407L
        (v * 0.85 + ((st >>> 33) % 120L) - 60L).toShort
      }
      (n + k, "ulaw", Audio.encode("ulaw", mod))
    }
    // one undecodable row must be isolated, not fail the job
    val junk = Seq((999L, "opus", Array[Byte](1, 2, 3)))
    val df = (base ++ dups ++ junk).toDF("id", "codec", "bytes")
    val pairs = Dedup.audioNearDup(df, "id", "bytes", "codec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0L until n / 10).map(k => (k * 10, n + k)).toSet
    val found = planted.intersect(pairs)
    info(s"planted=${planted.size} found=${found.size} extra=${pairs.size - found.size}")
    assert(found.size == planted.size, s"missed ${planted -- pairs}")
    assert(!pairs.exists(p => p._1 == 999L || p._2 == 999L))
  }

  test("audio near-dup: salted buckets produce the exact unsalted pairs " +
      "on a single-hot-band corpus") {
    import graft.codec.Audio
    // every clip is the SAME base tone (seed 7) with tiny per-clip
    // jitter — all peak bands collide, the worst case the salt path is
    // for. Salted and unsalted must agree pair-for-pair (sim included).
    val pcm = Audio.synth(7L, 8000, 4096)
    val clips = (0L until 60L).map { i =>
      var st = i * 31L
      val mod = pcm.map { v =>
        st = st * 6364136223846793005L + 1442695040888963407L
        (v + ((st >>> 33) % 40L) - 20L).toShort
      }
      (i, "pcm_s16le", Audio.pcm16Encode(mod))
    }.toDF("id", "codec", "bytes")
    def run(salts: Int) =
      Dedup.audioNearDup(clips, "id", "bytes", "codec", saltBuckets = salts)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = run(1)
    val salted = run(8)
    assert(plain.nonEmpty) // hot-band corpus really does pair up
    assert(salted == plain)
    // star mode on the same single-hot-band clique: O(n) candidates,
    // no duplicate rows, a subset of all-pairs, and IDENTICAL keep
    // decisions (single clique: everything near the bucket min)
    Dedup.drainLshMetrics() // isolate
    val starRows = Dedup.audioNearDup(clips, "id", "bytes", "codec",
      pairMode = "star", collectMetrics = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val am = Dedup.drainLshMetrics()
    assert(am.map(_.tier) == Seq("audio_neardup"))
    assert(am.head.max_bucket == 60 && am.head.survivor_pairs == starRows.length,
      s"audio metrics row off: ${am.head}")
    assert(starRows.length == starRows.toSet.size, "duplicate star rows")
    assert(starRows.length <= 3 * 60, s"star must stay O(n): ${starRows.length}")
    assert(starRows.toSet.subsetOf(plain), "star emitted a non-all-pairs row")
    def keeps(p: Set[(Long, Long, Double)]) = {
      val pairs = p.toSeq.map { case (a, b, _) => (a, b) }
        .toDF("a", "b")
      Dedup.keepPolicy(clips.select($"id".as("doc_id")), "doc_id", pairs)
        .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    }
    assert(keeps(plain) == keeps(starRows.toSet),
      "star changed an audio keep decision")
  }
  /** k near-identical docs (mirrored boilerplate, 5 tiny variants) plus
    * two unrelated singletons — the clique shape where all-pairs LSH
    * output is quadratic. */
  private def cliqueCorpus(k: Int) = {
    val clique = (0 until k).map(i =>
      (i.toLong, base + " variante " + ("x" * (i % 5))))
    val singles = Seq(
      (90000L, "completely different text about fish and chips in the harbor"),
      (90001L, "le gouvernement a discuté hier du nouveau projet pour la ville"))
    (clique ++ singles).toDF("doc_id", "text")
  }

  test("star pair mode at the 2,000-doc clique scale: all-pairs emits " +
      "the full ~2M rows, star stays linear") {
    val k = 2000
    val corpus = cliqueCorpus(k)
    val nAll = Dedup.minHashLsh(corpus, "doc_id", "text",
      threshold = 0.7).count()
    val nStar = Dedup.minHashLsh(corpus, "doc_id", "text",
      threshold = 0.7, pairMode = "star").count()
    info(s"k=$k all=$nAll star=$nStar")
    assert(nAll >= k.toLong * (k - 1) / 2, s"expected ~2M all-pairs: $nAll")
    assert(nStar <= 4L * k, s"star must stay linear: $nStar")
  }

  test("star pair mode: planted near-identical clique emits O(k) pairs " +
      "where all-pairs emits C(k,2); keepPolicy decisions IDENTICAL") {
    val k = 600
    val corpus = cliqueCorpus(k)
    val all = Dedup.minHashLsh(corpus, "doc_id", "text",
      threshold = 0.7, collectMetrics = true)
    val star = Dedup.minHashLsh(corpus, "doc_id", "text",
      threshold = 0.7, pairMode = "star", collectMetrics = true)
    val (nAll, nStar) = (all.count(), star.count())
    info(s"pairs: all=$nAll star=$nStar (k=$k)")
    assert(nAll >= k.toLong * (k - 1) / 2,
      s"all-pairs mode should emit the full clique: $nAll")
    assert(nStar <= 4L * k, s"star mode must stay linear: $nStar")
    // star pairs are a SUBSET of all-pairs (same scoring, fewer edges)
    val allSet = all.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val starSet = star.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starSet.subsetOf(allSet))
    // ... and the per-doc keep decisions are identical
    def keeps(p: org.apache.spark.sql.DataFrame) =
      Dedup.keepPolicy(corpus, "doc_id", p.select(col("a"), col("b")))
        .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val (ka, ks) = (keeps(all), keeps(star))
    assert(ka == ks, "star changed a keep decision")
    assert(ka(0L) && !ka(1L) && ka(90000L) && ka(90001L))
    // observability rows recorded for both runs, in drain order
    val ms = Dedup.drainLshMetrics()
    assert(ms.length == 2, s"expected 2 metrics rows, got $ms")
    val Seq(mAll, mStar) = ms
    assert(mAll.pair_mode == "all" && mStar.pair_mode == "star")
    assert(mAll.max_bucket >= k / 5,
      s"clique bucket should be visible: ${mAll.max_bucket}")
    assert(mAll.allpairs_candidates == mStar.allpairs_candidates,
      "allpairs_candidates is mode-independent")
    assert(mStar.candidate_pairs < mAll.candidate_pairs / 10,
      s"star candidates ${mStar.candidate_pairs} should be far below " +
        s"all-pairs ${mAll.candidate_pairs}")
    assert(mAll.survivor_pairs == nAll && mStar.survivor_pairs == nStar)
    assert(Dedup.drainLshMetrics().isEmpty, "drain must empty the sink")
  }

  test("hammingPairs star mode: same components as all-pairs on the " +
      "hot-block corpus; table-count blowup rejected") {
    val n = 500
    val shared = 0xBEEFL
    val rand = (0 until n).map { i =>
      val r = graft.util.Mix.mix(i.toLong) & ~0xFFFFL
      (i.toLong, r | shared)
    }
    // planted hamming-ball clique around doc 0: five 1-bit flips of its
    // hash (pairwise hamming 2) — the near-dup cluster both modes must
    // resolve into ONE component
    val base0 = rand.head._2
    val planted = (0 until 5).map(k => (9000L + k, base0 ^ (1L << (10 + k))))
    val hashes = (rand ++ planted).toDF("id", "sh")
    val all = Dedup.hammingPairs(hashes, maxHamming = 3, chunks = 6)
    val star = Dedup.hammingPairs(hashes, maxHamming = 3, chunks = 6,
      pairMode = "star")
    val starSet = star.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allSet = all.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(starSet.subsetOf(allSet))
    def labels(p: org.apache.spark.sql.DataFrame) =
      Dedup.components(p.select(col("a"), col("b")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // identical component structure wherever hamming<=3 edges form
    // cliques (hot-block corpus: random high bits => pairs are sparse
    // and exact-verified in both modes)
    val (la, ls) = (labels(all), labels(star))
    assert(la == ls, "star changed the component structure")
    assert((0 until 5).forall(k => la(9000L + k) == 0L),
      s"planted clique must collapse onto doc 0: $la")
    // replication cap: chunks=64, h=3 would be C(64,61)=41664 tables
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingPairs(hashes, maxHamming = 3, chunks = 64)
    }
    assert(e.getMessage.contains("tables"))
  }


  test("fractional df pruning reproduces the absolute form at a known " +
      "corpus size (scaling rule)") {
    // 6-doc fixture: all docs shingle (no blank text), so nDocs = 6 and
    // frac = cap/nDocs reproduces maxShingleDf = cap exactly
    def run(abs: Long, frac: Double) =
      Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5,
        maxShingleDf = abs, maxShingleDfFrac = frac)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
    assert(run(3L, 0.0) == run(999L, 3.0 / 6.0),
      "frac = 3/6 docs must reproduce maxShingleDf = 3")
    assert(run(2L, 0.0) == run(999L, 2.0 / 6.0))
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(docs, "doc_id", "text", maxShingleDfFrac = 1.5)
    }
  }

  test("a tier whose input throws mid-job leaves no cached frame behind") {
    // row 7's column fails while the tier fills its cache; the operator
    // must still release every frame it persisted before rethrowing
    val bad = 7L
    val words = base // a local: the UDF must not capture the suite
    val text = udf { (id: Long) =>
      if (id == bad) throw new IllegalStateException(s"bad row $id")
      s"$words ${id % 3}"
    }
    val clip = graft.codec.Audio.pcm16Encode(graft.model.AudioGen.melodyClip(7L))
    val bytes = udf { (id: Long) =>
      if (id == bad) throw new IllegalStateException(s"bad row $id")
      clip
    }
    val texts = spark.range(20).select($"id".as("doc_id"),
      text($"id").as("text"))
    val clips = spark.range(20).select($"id", lit("pcm_s16le").as("codec"),
      bytes($"id").as("bytes"))
    val sc = spark.sparkContext
    def leaves(tier: String)(run: => Any): Unit = {
      val before = sc.getPersistentRDDs.keySet
      intercept[org.apache.spark.SparkException](run)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$tier leaked cached RDDs $leaked")
    }
    leaves("ngramJaccard")(Dedup.ngramJaccard(texts, "doc_id", "text"))
    leaves("minHashLsh")(Dedup.minHashLsh(texts, "doc_id", "text"))
    leaves("simHash")(Dedup.simHash(texts, "doc_id", "text"))
    leaves("audioFingerprintMatch")(
      Dedup.audioFingerprintMatch(clips, "id", "bytes", "codec"))
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // deterministic vectors: cluster c's members point mostly along axis c
  lazy val vecs = (0L until 100L).map { i =>
    val c = (i % 4).toInt
    val v = Array.tabulate(16)(d =>
      (if (d == c) 10.0f else 0.0f) +
        (((i * 31 + d * 7) % 13) - 6) * 0.1f)
    (i, v)
  }.toDF("vec_id", "embedding")

  test("brute-force top-k returns same-cluster neighbors, prob-desc") {
    val r = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queryIds = Seq(0L, 1L), k = 5).collect()
    assert(r.length == 10)
    r.foreach { row =>
      val (qid, vid) = (row.getLong(0), row.getLong(2))
      assert(qid % 4 == vid % 4, s"neighbor $vid not in cluster of $qid")
    }
    // ranks are sim-desc per query
    val byQ = r.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("LSH top-k: every hit is verified-exact and recall@5 >= 0.6") {
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(0L, 1L, 2L, 3L), 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(vecs, "vec_id", "embedding",
      Seq(0L, 1L, 2L, 3L), dim = 16, k = 5, planes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"recall@5 = $recall%.2f")
    assert(recall >= 0.6, s"recall $recall")
  }

  test("sketchCol: null vectors bucket to NULL, not real bucket 0") {
    // a null-heavy corpus must not pile every null row into one REAL
    // bucket (O(m²) in-bucket join); null buckets never equi-join
    graft.functions.VectorOps.register(spark)
    val withNulls = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, Seq.fill(16)(0.5)),
        org.apache.spark.sql.Row(2L, null),
        org.apache.spark.sql.Row(3L, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val buckets = withNulls
      .withColumn("bucket",
        Similarity.sketchCol(org.apache.spark.sql.functions.col("embedding"),
          dim = 16, planes = 4))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None
        else Some(r.getLong(2)))).toMap
    assert(buckets(1L).nonEmpty, "real vector must get a real bucket")
    assert(buckets(2L).isEmpty && buckets(3L).isEmpty,
      s"null vectors must get null buckets, got $buckets")
  }

  test("embedding LSH star mode: planted copies still recovered, " +
      "keep decisions identical to all-pairs; nHint skips the count") {
    val base = (0L until 200L).map { i =>
      val v = Array.tabulate(32) { d =>
        (graft.util.Mix.mix(i * 97L + d).toDouble / Long.MaxValue).toFloat
      }
      (i, v)
    }
    val planted = (0L until 20L).map { k =>
      val src = base(k.toInt * 7)._2
      val v = Array.tabulate(32) { d =>
        src(d) + ((graft.util.Mix.mix(k * 131L + d).toDouble /
          Long.MaxValue) * 1e-3).toFloat
      }
      (1000L + k, v)
    }
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    val all = Dedup.embeddingCosineLsh(vecs, "vec_id", "embedding",
      dim = 32, threshold = 0.999, planes = 24)
    val star = Dedup.embeddingCosineLsh(vecs, "vec_id", "embedding",
      dim = 32, threshold = 0.999, planes = 24, pairMode = "star")
    val expected = (0L until 20L).map(k => (k * 7, 1000L + k)).toSet
    val starRows = star.collect().map(r => (r.getLong(0), r.getLong(1)))
    val starSet = starRows.toSet
    assert(starRows.length == starSet.size,
      "star must not emit duplicate (a,b) rows (mutually-probing minima)")
    assert(expected.subsetOf(starSet),
      s"star missed planted pairs: ${expected -- starSet}")
    def keeps(p: org.apache.spark.sql.DataFrame) =
      Dedup.keepPolicy(vecs, "vec_id", p.select(col("a"), col("b")))
        .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(keeps(all) == keeps(star), "star changed a keep decision")
    // nHint: same planes as an explicit count → identical output
    val hinted = Dedup.embeddingCosineLsh(vecs, "vec_id", "embedding",
      dim = 32, threshold = 0.999, planes = 0, nHint = 220L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val counted = Dedup.embeddingCosineLsh(vecs, "vec_id", "embedding",
      dim = 32, threshold = 0.999, planes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hinted == counted)
  }

}

class SessionCacheSpec extends AnyFunSuite {
  test("pipe cache: same session memoizes; a second session in the " +
      "same JVM gets fresh frames (weak-key map, no identity-hash reuse)") {
    val s1 = SparkTestSession.spark
    val a = SparkEntry.pipe(s1, n = 200L, partitions = 2)
    val b = SparkEntry.pipe(s1, n = 200L, partitions = 2)
    assert(a eq b, "same session + same inputs must memoize")
    val s2 = s1.newSession()
    val c = SparkEntry.pipe(s2, n = 200L, partitions = 2)
    assert(!(c eq a), "a different session must never receive another " +
      "session's cached frames")
  }
}

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("kill-and-resume produces output identical to an uninterrupted run") {
    val n = 600L
    val clips = Pipeline.clips(spark, n)
    // stats computed once on the full corpus (separate stage, like the
    // reference's per-newspaper stats files) — the per-row process is
    // then deterministic per slice
    val stats = operators.Stage1b(spark, Stage1(spark, clips)).collect().toSeq
    def process(in: org.apache.spark.sql.Dataset[ClipRow]) =
      Stage2(spark, Stage1(spark, in), stats)

    val full = java.nio.file.Files.createTempDirectory("ckpt-full").toString
    val inter = java.nio.file.Files.createTempDirectory("ckpt-inter").toString

    Checkpoint.runToCompletion(spark, clips, full, 8, process)

    // "killed" run: only 3 of 8 buckets complete
    assert(Checkpoint.runIncrement(spark, clips, inter, 8, process, 3) == 3)
    assert(Checkpoint.manifest(spark, inter).count() == 3)
    // resume: processes exactly the remaining 5, then nothing
    assert(Checkpoint.runIncrement(spark, clips, inter, 8, process) == 5)
    assert(Checkpoint.runIncrement(spark, clips, inter, 8, process) == 0)

    def canon(dir: String) = Checkpoint.readOutput(spark, dir)
      .select($"clip_id", $"lg", $"lg_decision", $"keep", $"drop_reason",
        $"bucket")
      .collect().map(_.toString).sorted
    val (a, b) = (canon(full), canon(inter))
    assert(a.length == n && b.length == n)
    assert(a.sameElements(b), "resumed output differs from uninterrupted run")
  }
}
