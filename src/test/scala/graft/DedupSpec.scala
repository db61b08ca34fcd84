package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "The  quick  BROWN fox jumps over the lazy dog"), // case/ws variant
    (3L, "a completely different document about spark engines"),
    (4L, "the quick brown fox jumps over the lazy cat") // near-dup of 0
  ).toDF("doc_id", "text")

  test("containmentPairs flags the embedded doc that Jaccard misses") {
    val d = Seq(
      (0L, "alpha beta gamma"), // wholly contained in doc 10
      (10L, ("alpha beta gamma " +
        Seq.tabulate(20)(i => s"filler$i").mkString(" "))),
      (20L, "zeta eta theta") // disjoint from both
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, tau = 0.5, sampleMod = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getString(8)))
      .toMap
    // C(0→10) = 3/3 = 1.0 while Jaccard is 3/23 ≈ 0.13
    assert(out.keySet == Set((0L, 10L)))
    val (c12, c21, cont, dir) = out((0L, 10L))
    assert(c12 == 1.0 && cont == 1.0 && dir == "1_in_2")
    assert(c21 == 3.0 / 23.0)
    // layout-independent
    val again = Dedup.containmentPairs(d.repartition(4), tau = 0.5,
      sampleMod = 1).collect().map(_.toString)
    assert(again.sameElements(Dedup.containmentPairs(d, tau = 0.5,
      sampleMod = 1).collect().map(_.toString)))
  }

  test("containmentPairs df cap drops uninformative ubiquitous tokens") {
    // "common" appears in every doc; with maxDf=2 (< 4 docs) it is
    // dropped from BOTH the sets and the denominators, so it can
    // neither inflate intersections nor blow up the inverted-index
    // self-join on one hot key
    val d = Seq(
      (0L, "common alpha beta"),
      (1L, "common alpha beta gamma delta"),
      (2L, "common zeta eta"),
      (3L, "common theta iota")).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(d, tau = 0.9, sampleMod = 1, maxDf = 2)
      .collect()
    // informative sets: {alpha,beta} ⊂ {alpha,beta,gamma,delta} is the
    // only pair at containment ≥ 0.9; n1/n2 exclude the dropped token
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
    assert(out.head.getDouble(7) == 1.0)
    assert(out.head.getLong(2) == 2L && out.head.getLong(3) == 4L)
  }

  test("containmentLshMd5: banded candidates verify exactly (subset-of-exact law)") {
    // driver-side reimplementation of the engine's shingle semantics
    // (word 3-grams, short-doc tail shortening per shingleArrExpr)
    def shingleSet(text: String): Set[String] = {
      val ws = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
      (0 to math.max(ws.length - 3, 0))
        .map(i => ws.slice(i, i + 3).mkString(" ")).toSet
    }
    val data = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (2L, "a completely different document about spark engines"),
      (3L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (4L, "unrelated words entirely disjoint tokens here"))
    val df = data.toDF("doc_id", "text")
    val sets = data.map { case (id, t) => id -> shingleSet(t) }.toMap
    // tau=0 keeps every banded candidate → the law checks the verify
    // stage against ground truth on ALL candidates the front end emits
    val out = Dedup.containmentLshMd5(df, tau = 0.0, sampleMod = 1).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (s1, s2) = (sets(r.getLong(0)), sets(r.getLong(1)))
      val common = (s1 & s2).size
      assert(r.getLong(2) == s1.size && r.getLong(3) == s2.size)
      assert(r.getLong(4) == common)
      assert(r.getDouble(5) == common.toDouble / s1.size)
      assert(r.getDouble(6) == common.toDouble / s2.size)
      assert(r.getDouble(7) ==
        math.max(common.toDouble / s1.size, common.toDouble / s2.size))
    }
    // recall non-vacuity: identical shingle sets share every band →
    // the exact-dup pair is guaranteed banded, at containment 1.0
    val m = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(7)).toMap
    assert(m((0L, 1L)) == 1.0)
    // layout independence
    val again = Dedup.containmentLshMd5(df.repartition(4), tau = 0.0,
      sampleMod = 1).collect().map(_.toString)
    assert(again.sameElements(out.map(_.toString)))
  }

  test("containmentChunkLshMd5 finds the embedded doc symmetric banding misses") {
    // doc 0: 12 words wholly embedded in the middle of doc 10's 120
    // words. Whole-doc Jaccard ≈ 10/110 ≈ 0.09 → NO symmetric band of
    // a 16-hash/4-band signature can plausibly collide; the chunk
    // covering the embedded run has chunk-local Jaccard ≈ 1 with doc
    // 0's whole signature → the asymmetric path recovers it.
    val embedded = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu"
    val filler = (w: String) => Seq.tabulate(54)(i => s"$w$i").mkString(" ")
    val d = Seq(
      (0L, embedded),
      (10L, s"${filler("pre")} $embedded ${filler("post")}"),
      (20L, "totally unrelated words about something else entirely here"))
      .toDF("doc_id", "text")
    val asym = Dedup.containmentChunkLshMd5(d, tau = 0.9, chunkWords = 16,
      stride = 4, sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(asym.contains((0L, 10L)), s"asym=$asym")
    assert(asym((0L, 10L)) == 1.0) // exact verify: fully contained
    // the symmetric whole-signature path misses this pair
    val sym = Dedup.containmentLshMd5(d, tau = 0.0, sampleMod = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sym.contains((0L, 10L)), s"sym=$sym")
    // no false pair with the unrelated doc at tau 0.9
    assert(!asym.keySet.exists { case (a, b) => a == 20L || b == 20L })
    // layout independence
    val again = Dedup.containmentChunkLshMd5(d.repartition(4), tau = 0.9,
      chunkWords = 16, stride = 4, sampleMod = 1).collect().map(_.toString)
    assert(again.sameElements(Dedup.containmentChunkLshMd5(d, tau = 0.9,
      chunkWords = 16, stride = 4, sampleMod = 1).collect().map(_.toString)))
  }

  test("containment store: probe finds embedded docs; append ≡ fresh; re-append no-op") {
    // base1 reuses the proven chunk-geometry fixture above (doc 0
    // embedded in doc 10); base2's embedded run is chunk-ALIGNED
    // (16 words at offset 52 with stride 4), so the covering chunk's
    // shingle set EQUALS the probe's → identical chunk signature →
    // the band collision is certain, not an md5 draw
    val embedded = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu"
    val embedded2 = "uno dos tres cuatro cinco seis siete ocho " +
      "nueve diez once doce trece catorce quince dieciseis"
    def filler(w: String, n: Int) =
      Seq.tabulate(n)(i => s"$w$i").mkString(" ")
    val base1 = Seq(
      (10L, s"${filler("pre", 54)} $embedded ${filler("post", 54)}"),
      (20L, "totally unrelated words about something else entirely here"))
      .toDF("doc_id", "text")
    val base2 = Seq(
      (30L, s"${filler("aaa", 52)} $embedded2 ${filler("bbb", 52)}"))
      .toDF("doc_id", "text")
    val probes = Seq((0L, embedded), (5L, embedded2))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("ctstore")
    val grown = tmp.resolve("grown").toString
    val fresh = tmp.resolve("fresh").toString
    Dedup.writeContainmentStore(base1, grown, stride = 4, sampleMod = 1)
    def probe(path: String) =
      Dedup.containmentFromStore(path, probes, tau = 0.9, sampleMod = 1)
    // base1-only: 0→10 at exact containment 1.0; 5 finds nothing yet
    val r1 = probe(grown).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(r1.keySet == Set((0L, 10L)) && r1((0L, 10L)) == 1.0, s"r1=$r1")
    // fold base2 in: 5→30 surfaces, 0→10 unchanged
    Dedup.appendToContainmentStore(base2, grown, stride = 4,
      sampleMod = 1)
    val r2 = probe(grown).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(r2.keySet == Set((0L, 10L), (5L, 30L)) &&
      r2((5L, 30L)) == 1.0, s"r2=$r2")
    // append ≡ fresh store over the union, bit-identical rows
    Dedup.writeContainmentStore(base1.unionAll(base2), fresh,
      stride = 4, sampleMod = 1)
    val g = probe(grown).collect().map(_.toString)
    assert(g.sameElements(probe(fresh).collect().map(_.toString)) &&
      g.nonEmpty, "appended containment store diverged from fresh")
    // content-tagged batch dirs: re-appending the SAME batch
    // overwrites its own directories — results unchanged, no
    // double-counted shingles inflating `common`
    Dedup.appendToContainmentStore(base2, grown, stride = 4,
      sampleMod = 1)
    assert(probe(grown).collect().map(_.toString).sameElements(g))
  }

  test("containment store compaction: probe bit-identical; ledger outlives the fold") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val embedded = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu"
    val embedded2 = "uno dos tres cuatro cinco seis siete ocho " +
      "nueve diez once doce trece catorce quince dieciseis"
    def filler(w: String, n: Int) =
      Seq.tabulate(n)(i => s"$w$i").mkString(" ")
    val base1 = Seq(
      (10L, s"${filler("pre", 54)} $embedded ${filler("post", 54)}"),
      (20L, "totally unrelated words about something else entirely here"))
      .toDF("doc_id", "text")
    val base2 = Seq(
      (30L, s"${filler("aaa", 52)} $embedded2 ${filler("bbb", 52)}"))
      .toDF("doc_id", "text")
    // chunk-ALIGNED like base2 (16 words at offset 52, stride 4) so
    // the covering chunk's shingle set EQUALS probe 5's — the band
    // collision is certain, not an md5 draw; post-append the probe
    // finds 5→30 AND 5→40
    val base3 = Seq(
      (40L, s"${filler("ccc", 52)} $embedded2 ${filler("ddd", 52)}"))
      .toDF("doc_id", "text")
    val probes = Seq((0L, embedded), (5L, embedded2))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("ctstore_cmp")
    val grown = tmp.resolve("grown").toString
    Dedup.writeContainmentStore(base1, grown, stride = 4, sampleMod = 1)
    Dedup.appendToContainmentStore(base2, grown, stride = 4,
      sampleMod = 1)
    def probe(path: String) =
      Dedup.containmentFromStore(path, probes, tau = 0.9, sampleMod = 1)
    def batchDirs(sub: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$grown/$sub"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
    val before = probe(grown).collect().map(_.toString)
    assert(before.length == 2) // 0→10 and 5→30, per the store test above
    // under threshold: maintain no-op; at it: folds both batches
    assert(Dedup.maintainContainmentStore(spark, grown, 3) == 0)
    assert(Dedup.maintainContainmentStore(spark, grown, 2) == 2)
    assert(probe(grown).collect().map(_.toString).sameElements(before),
      "compaction changed probe results")
    Seq("chunks", "shingles", "sizes").foreach { sub =>
      assert(batchDirs(sub).length == 1 &&
        batchDirs(sub).head.startsWith("batch=c2_"), s"$sub not folded")
    }
    // the `_applied` ledger outlives the folded dirs: a replayed old
    // batch is a no-op — its dirs are NOT recreated, nothing doubles
    Dedup.appendToContainmentStore(base2, grown, stride = 4,
      sampleMod = 1)
    assert(batchDirs("chunks").length == 1)
    assert(probe(grown).collect().map(_.toString).sameElements(before))
    // nothing left to fold
    assert(Dedup.compactContainmentStore(spark, grown) == 0)
    // compaction composes with append: a NEW batch lands and the
    // store still probes identically to a fresh build over the union
    Dedup.appendToContainmentStore(base3, grown, stride = 4,
      sampleMod = 1)
    val fresh = tmp.resolve("fresh").toString
    Dedup.writeContainmentStore(base1.unionAll(base2).unionAll(base3),
      fresh, stride = 4, sampleMod = 1)
    val g = probe(grown).collect().map(_.toString)
    assert(g.length == 3 && g.sameElements(
      probe(fresh).collect().map(_.toString)),
      "post-compaction append diverged from fresh")
  }

  test("splitLeakage flags duplicate clusters spanning splits") {
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(15), 16)
    def spl(id: Long): String = {
      val b = h60("spl:" + id) % 1000
      if (b < 800) "train" else if (b < 900) "valid" else "test"
    }
    // find a cross-split pair and a same-split pair deterministically
    val ids = (0L until 200L)
    val crossPair = ids.combinations(2)
      .find { case Seq(a, b) => spl(a) != spl(b) }.get
    val samePair = ids.combinations(2)
      .find { case Seq(a, b) =>
        spl(a) == spl(b) && !crossPair.contains(a) && !crossPair.contains(b)
      }.get
    val txtA = "the quick brown fox jumps over the lazy dog again and again"
    val txtB = "completely different words about spark engines at scale now"
    val d = (crossPair.map((_, txtA)) ++ samePair.map((_, txtB)) ++
      Seq((999L, "a lone singleton document with its own unique words")))
      .toDF("doc_id", "text")
    val out = Dedup.splitLeakage(d, sampleMod = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(5))).toMap
    assert(out(crossPair.min) == ((2L, 1))) // spans splits → leaky
    assert(out(samePair.min) == ((2L, 0))) // same split → clean
    assert(!out.contains(999L)) // singletons can't leak
    // store-fed form over the same map is identical
    val viaMap = Dedup.splitLeakageFromClusters(d,
      Dedup.clustersLshMd5(d, sampleMod = 1)).collect().map(_.toString)
    assert(viaMap.sameElements(
      Dedup.splitLeakage(d, sampleMod = 1).collect().map(_.toString)))
  }

  test("sourceOverlap measures shared-shingle Jaccard per source pair") {
    val d = Seq(
      (0L, "one two three four five", "s1"),
      (1L, "one two three four five", "s2"), // s2 = re-scrape of s1
      (2L, "alpha beta gamma delta epsilon", "s3") // disjoint
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getDouble(5))).toMap
    // identical text → identical 3-shingle sets: 3 shingles, J = 1.0
    assert(out((
      "s1", "s2")) == ((3L, 1.0)))
    // disjoint sources never pair (inner join on shared hashes)
    assert(!out.contains(("s1", "s3")) && !out.contains(("s2", "s3")))
  }

  test("exact dedup keeps min doc_id per identical text") {
    val out = Dedup.exact(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(0L) == 2) // docs 0 and 1 collapse
    assert(!out.contains(1L))
    assert(out(2L) == 1) // whitespace variant NOT caught by exact
  }

  test("fingerprint dedup catches case/whitespace variants") {
    val out = Dedup.fingerprint(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == 3) // 0, 1 and the normalized variant 2 collapse
    assert(!out.contains(2L))
  }

  test("minhash LSH surfaces exact and near duplicates") {
    val pairs = Dedup.minHashLsh(docs, minEstSim = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical → all bands collide
    assert(pairs.contains((0L, 4L)) || pairs.contains((1L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc
  }

  test("minhash signature similarity estimates true shingle Jaccard") {
    // two docs sharing ~29% of their 3-gram shingles
    val a = (1 to 20).map(i => s"w$i").mkString(" ")
    val b = (11 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(df, minEstSim = 0.0).collect()
    if (pairs.nonEmpty) { // bands at threshold~0.5 may not fire at J=0.29
      val est = pairs.head.getDouble(2)
      assert(est > 0.05 && est < 0.55, s"est=$est, true J≈0.29")
    }
    // identical docs estimate exactly 1.0 through the same path
    val same = Seq((0L, a), (1L, a)).toDF("doc_id", "text")
    val p2 = Dedup.minHashLsh(same, minEstSim = 0.0).collect()
    assert(p2.length == 1 && p2.head.getDouble(2) == 1.0)
  }

  test("md5-portable minhash LSH finds the same dup structure") {
    val pairs = Dedup.minHashLshMd5(docs, minEstSim = 0.4, sampleMod = 1)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 1.0) // identical docs → full signature match
    assert(pairs.keySet.exists(p => p == ((0L, 4L)) || p == ((1L, 4L))))
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("md5-portable simhash banding pairs duplicates at hamming 0") {
    val pairs = Dedup.simHashPairsMd5(docs, sampleMod = 1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((0L, 1L)) == 0) // identical docs → identical simhash
    assert(pairs.keySet.forall(p => p._1 < p._2)) // ordered, no self-pairs
  }

  test("identical docs have identical simhash; near-dups are close") {
    val h = Dedup.simHash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h(0L) == h(1L))
    assert(java.lang.Long.bitCount(h(0L) ^ h(4L)) < 16)
    val pairs = Dedup.simHashPairs(docs, maxHamming = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("connected components label chains, cliques and singletons") {
    // chain 1-2-3-4 (diameter > 1 forces multiple rounds), clique
    // 10-11-12, edge 20-21, singletons 30/31
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("d1", "d2")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L, 31L)
      .toDF("node")
    val lbl = Dedup.connectedComponents(edges, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(lbl(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(lbl(_) == 10L))
    assert(lbl(20L) == 20L && lbl(21L) == 20L)
    assert(lbl(30L) == 30L && lbl(31L) == 31L)
  }

  test("bucket-occupancy guard turns mega-bucket pairing linear") {
    // 20 identical boilerplate docs (every band bucket holds all 20)
    // + 2 distinct docs; cap=4 triggers the guard on the boilerplate
    val boiler = (0 until 20)
      .map(i => (i.toLong, "standard legal footer text repeated verbatim"))
    val other = Seq((100L, "a unique document about spark physical plans"),
      (101L, "another unique document about catalyst optimizer rules"))
    val df = (boiler ++ other).toDF("doc_id", "text")
    val guarded = Dedup.minHashLshMd5(df, sampleMod = 1, bucketCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // linear star edges: exactly (0, m) for each of the 19 members —
    // NOT the C(20,2)=190 quadratic pair set
    assert(guarded.length == 19)
    assert(guarded.forall { case (d1, d2, sim) =>
      d1 == 0L && d2 >= 1L && d2 <= 19L && sim == 1.0 })
    // under-cap buckets are untouched: default cap reproduces the
    // full pair set bit-for-bit on the standard fixture
    val base = Dedup.minHashLshMd5(docs, minEstSim = 0.4, sampleMod = 1)
      .collect().map(_.toString)
    val capped200 = Dedup.minHashLshMd5(docs, minEstSim = 0.4,
      sampleMod = 1, bucketCap = 200).collect().map(_.toString)
    assert(base.sameElements(capped200))
    // downstream connectivity is preserved: star edges still collapse
    // the whole mega-bucket into one component
    val lbl = graft.operators.Dedup.connectedComponents(
        Dedup.minHashLshMd5(df, sampleMod = 1, bucketCap = 4)
          .select($"d1", $"d2"),
        df.select($"doc_id".as("node")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 20L).forall(lbl(_) == 0L))
    assert(lbl(100L) == 100L && lbl(101L) == 101L)
  }

  test("incremental guard caps mega base buckets deterministically") {
    // base: 12 identical boilerplate docs; delta doc 0 is the same
    // boilerplate (deltaMod=13 puts only doc 0 in the delta)
    val df = (0 until 13)
      .map(i => (i.toLong, "standard legal footer text repeated verbatim"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalLshMd5(df, deltaMod = 13, sampleMod = 1,
        bucketCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.length == 1)
    val (docId, nDups, bestMatch, bestSim) = out.head
    // n_dups undercounts at the cap (4, reads "many"); best_match is
    // the deterministic lowest-id rep; the dup verdict itself is kept
    assert(docId == 0L && nDups == 4L && bestMatch == 1L && bestSim == 1.0)
  }

  test("connected components label a hub whose id exceeds its leaves") {
    // regression (round-8 ADVICE): {1-3, 2-3} canonicalizes to the
    // multi-parent state {(3→1),(3→2)}, whose child/root sets are
    // disjoint — a convergence test checking only disjointness accepts
    // it before any contraction and labels node 2 as 2 instead of the
    // component min 1
    val lbl = Dedup.connectedComponents(
        Seq((1L, 3L), (2L, 3L)).toDF("d1", "d2"),
        Seq(1L, 2L, 3L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // wider hub (id above ≥2 mutually-unpaired leaves) + a bystander
    // component, so the fix is exercised with mixed shapes in one graph
    val lbl2 = Dedup.connectedComponents(
        Seq((4L, 9L), (5L, 9L), (6L, 9L), (7L, 9L), (20L, 21L))
          .toDF("d1", "d2"),
        (Seq(4L, 5L, 6L, 7L, 9L, 20L, 21L)).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(4L, 5L, 6L, 7L, 9L).forall(lbl2(_) == 4L))
    assert(lbl2(20L) == 20L && lbl2(21L) == 20L)
  }

  test("store-backed incremental dedup matches the one-frame twin") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // sampleMod=1: tiny 5-doc fixture, no sampling
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val store = java.nio.file.Files.createTempDirectory("sigstore")
      .resolve("store").toString
    Dedup.writeSignatureStore(base, store, sampleMod = 1)
    val out = Dedup.incrementalLshStore(store, delta, sampleMod = 1)
      .collect().map(_.toString)
    val twin = Dedup.incrementalLshMd5(docs, sampleMod = 1)
      .collect().map(_.toString)
    assert(out.sameElements(twin),
      "persisted-store path diverged from the one-frame twin")
    assert(out.nonEmpty)
  }

  test("growing the signature store by append equals building it fresh") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val b0 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val b1 = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("sigstore_grow")
    val grown = tmp.resolve("grown").toString
    val fresh = tmp.resolve("fresh").toString
    // ingest loop: write base, then fold the next batch in by append
    Dedup.writeSignatureStore(b0, grown, sampleMod = 1)
    Dedup.appendToSignatureStore(b1, grown, sampleMod = 1)
    Dedup.writeSignatureStore(b0.unionAll(b1), fresh, sampleMod = 1)
    val viaGrown = Dedup.incrementalLshStore(grown, delta, sampleMod = 1)
      .collect().map(_.toString)
    val viaFresh = Dedup.incrementalLshStore(fresh, delta, sampleMod = 1)
      .collect().map(_.toString)
    assert(viaGrown.sameElements(viaFresh) && viaGrown.nonEmpty)
    // a store written while the signature store kept a Bloom sidecar
    // still holds `_bloomgate/` (a `meta` file plus one filter per
    // band): read, append, compaction and probe must treat it as the
    // same store as one without the directory
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val legacy = tmp.resolve("legacy").toString
    Dedup.writeSignatureStore(b0, legacy, sampleMod = 1)
    val sidecar = new org.apache.hadoop.fs.Path(legacy, "_bloomgate")
    def put(name: String, bytes: Array[Byte]): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(sidecar, name))
      try out.write(bytes) finally out.close()
    }
    put("meta", "v2 16 192\n0 1\n1 1\n2 1\n3 1".getBytes("UTF-8"))
    for (b <- 0 until 4) put(s"filter_$b.bin", Array.fill[Byte](40)(0))
    def rows(p: String): Array[String] = Dedup.readSignatureStore(spark, p)
      .collect().map(_.toString).sorted
    def verdicts(p: String): Array[String] =
      Dedup.incrementalLshStore(p, delta, sampleMod = 1)
        .collect().map(_.toString)
    val plain = tmp.resolve("plain").toString
    Dedup.writeSignatureStore(b0, plain, sampleMod = 1)
    assert(rows(legacy).sameElements(rows(plain)))
    Dedup.appendToSignatureStore(b1, legacy, sampleMod = 1)
    assert(rows(legacy).sameElements(rows(grown)))
    assert(verdicts(legacy).sameElements(viaGrown))
    val compacted = Dedup.compactSignatureStore(spark, legacy,
      maxFilesPerBand = 1)
    assert(compacted > 0 &&
      compacted == Dedup.compactSignatureStore(spark, grown, maxFilesPerBand = 1))
    assert(rows(legacy).sameElements(rows(grown)))
    assert(verdicts(legacy).sameElements(viaGrown))
    assert(fs.exists(new org.apache.hadoop.fs.Path(sidecar, "meta")))
  }

  test("compaction rewrites many-file bands without changing verdicts") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val b0 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val b1 = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("sigstore_compact")
    val grown = tmp.resolve("grown").toString
    Dedup.writeSignatureStore(b0, grown, sampleMod = 1)
    Dedup.appendToSignatureStore(b1, grown, sampleMod = 1)
    val before = Dedup.incrementalLshStore(grown, delta, sampleMod = 1)
      .collect().map(_.toString)
    def bandFiles(): Int = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(grown))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("band="))
        .map(d => fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))).sum
    }
    val filesBefore = bandFiles()
    val compacted = Dedup.compactSignatureStore(spark, grown,
      maxFilesPerBand = 1)
    assert(compacted > 0, "no band met the compaction threshold")
    assert(bandFiles() < filesBefore,
      s"file count did not shrink ($filesBefore -> ${bandFiles()})")
    val after = Dedup.incrementalLshStore(grown, delta, sampleMod = 1)
      .collect().map(_.toString)
    assert(after.sameElements(before) && after.nonEmpty,
      "compaction changed store-backed dedup verdicts")
  }

  test("ensureSignatureStore rebuilds partial stores and keys on content") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val tag = s"spec${System.nanoTime()}"
    val p1 = Dedup.ensureSignatureStore(base, tag, sampleMod = 1)
    assert(Dedup.isCompleteSignatureStore(fs, p1))
    // a crashed partial write (no _SUCCESS) must be rebuilt, not
    // trusted by a bare directory-exists check
    fs.delete(new org.apache.hadoop.fs.Path(p1 + "/_SUCCESS"), false)
    val p2 = Dedup.ensureSignatureStore(base, tag, sampleMod = 1)
    assert(p2 == p1 && Dedup.isCompleteSignatureStore(fs, p2))
    // regenerated fixture content under the SAME tag lands on a
    // different fingerprinted path instead of reusing the stale store
    val p3 = Dedup.ensureSignatureStore(docs, tag, sampleMod = 1)
    assert(p3 != p1 && Dedup.isCompleteSignatureStore(fs, p3))
  }

  test("connected components converge in O(log n) rounds on a long chain") {
    // path graph 0-1-…-1023: diameter 1023, so min-label propagation
    // needs ~n rounds; star contraction must stay logarithmic
    val n = 1024
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("d1", "d2")
    val nodes = (0 until n).map(_.toLong).toDF("node")
    val (out, rounds) = Dedup.ccWithRounds(edges, nodes)
    val lbl = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until n).forall(i => lbl(i.toLong) == 0L))
    assert(rounds <= 15, s"star contraction took $rounds rounds on a " +
      s"diameter-${n - 1} chain; expected O(log n)")
  }

  test("connected components match union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val edgeList = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val lbl = Dedup.connectedComponents(
        edgeList.toDF("d1", "d2"), (0 until n).map(_.toLong).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl == expect)
  }

  test("LSH-edged clustering clusters the sampled near-dups") {
    // sampleMod=2 keeps docs 0/2/4; 0 and 4 are near-dups (LSH pair),
    // 2 differs case-wise (different shingles — own cluster)
    // map output carries no total order (r12: the terminal orderBy
    // was dead weight — consumers aggregate, the driver sorts)
    val out = Dedup.clustersLshMd5(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(0L, 2L, 4L))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(4L)._2 == 0L && byId(0L)._3 == 2L)
    assert(byId(2L)._2 == 2L && byId(2L)._3 == 1L)
  }

  test("dedup clustering groups near-dup docs and keeps singletons total") {
    val out = Dedup.clusters(docs, tau = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L)) // total map
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 0L && byId(4L)._2 == 0L) // near-dups of doc 0
    assert(byId(3L)._2 == 3L && byId(3L)._3 == 1L) // singleton
  }

  test("incremental LSH flags delta dups against base only, totally") {
    // deltaMod=3 → delta = {0, 3}; base = {1, 2, 4}
    val out = Dedup.incrementalLsh(docs, deltaMod = 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set(0L, 3L)) // one verdict row PER delta doc
    val (n0, best0, sim0) = out(0L)
    assert(n0 >= 1 && best0 == 1L && sim0 == 1.0) // exact dup in base
    assert(out(3L) == ((0L, -1L, 0.0))) // unique doc: explicit keep row
  }

  test("incremental md5 twin produces the same verdict structure") {
    // sampleMod=1: no sampling, all 5 docs; delta = {0, 3}
    val out = Dedup.incrementalLshMd5(docs, deltaMod = 3, sampleMod = 1)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == Set(0L, 3L))
    assert(out(0L)._2 == 1L && out(0L)._3 == 1.0)
    assert(out(3L) == ((0L, -1L, 0.0)))
  }

  test("keepBest resolves each near-dup cluster to its highest-quality member") {
    // sampleMod=1: all docs are nodes; docs 0/1 are exact dups → one
    // cluster; winner decided by the hash-trick score with doc_id ties
    val out = Dedup.keepBest(docs.toDF("doc_id", "text"), sampleMod = 1)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    // every cluster resolves to exactly one kept doc
    assert(out.values.map(_._2).toSet.size == out.size)
    val dupCluster = out(0L) // cluster_id = min member id = 0
    assert(dupCluster._1 >= 2 && dupCluster._4 == dupCluster._1 - 1)
    assert(Set(0L, 1L).contains(dupCluster._2))
    // identical texts → identical scores → tie broken by min doc_id
    assert(dupCluster._2 == 0L)
    // deterministic under repartition
    val again = Dedup.keepBest(docs.toDF("doc_id", "text").repartition(7),
      sampleMod = 1).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(again == out)
  }

  test("passage dedup strips corpus-frequent passages and reassembles the rest") {
    // passages are 2-word chunks; "x x" appears in docs 0,1,2 (3 ≥
    // maxOccurrences) → stripped everywhere; everything else unique
    val d = Seq(
      (0L, "x x a b"), (1L, "x x c d"), (2L, "x x e f"),
      (3L, "g h i j"),
      (4L, "x x") // ONLY the hot passage → fully removed
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedup(d, width = 2, maxOccurrences = 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L)._1 == 2 && out(0L)._2 == 1) // 2 passages, 1 kept
    assert(out(3L) == ((2L, 2L, md5Of("g h i j"))))
    assert(out(0L)._3 == md5Of("a b"))
    // fully-removed doc keeps a row with md5 of the empty string
    assert(out(4L) == ((1L, 0L, md5Of(""))))
    // layout-independent
    val again = Dedup.passageDedup(d.repartition(7), 2, 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(again == out)
  }

  test("keep-best from a persisted cluster map equals the one-shot path") {
    val tmp = java.nio.file.Files.createTempDirectory("clmap")
      .resolve("map").toString
    Dedup.writeClusterMap(docs, tmp, sampleMod = 1)
    val viaStore = Dedup.keepBestFromStore(docs, tmp, sampleMod = 1)
      .collect().map(_.toString)
    val oneShot = Dedup.keepBest(docs, sampleMod = 1)
      .collect().map(_.toString)
    assert(viaStore.sameElements(oneShot) && viaStore.nonEmpty)
    // an artifact without its _SUCCESS marker (crashed partial write)
    // is never trusted by the build-once helper
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp + "/_SUCCESS"), false)
    assert(!Dedup.isCompleteSignatureStore(fs, tmp))
  }

  test("span dedup strips cross-doc duplicated runs and reassembles") {
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (0L, s"u1 u2 $span u3"), // span mid-doc
      (1L, s"v1 $span v2 v3"), // same span, different context
      (2L, "w1 w2 w3"),        // shorter than one window — untouched
      (3L, span)               // nothing but the span — fully stripped
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    // only the exact 8-token window occurs in ≥2 docs; its 8 covered
    // tokens are stripped from EVERY doc, context words survive
    assert(out(0L) == ((11L, 8L, md5("u1 u2 u3"))))
    assert(out(1L) == ((11L, 8L, md5("v1 v2 v3"))))
    assert(out(2L) == ((3L, 0L, md5("w1 w2 w3"))))
    assert(out(3L) == ((8L, 8L, md5(""))))
    // layout independence: same verdicts from any input partitioning
    val re = Dedup.spanDedup(df.repartition(7)).collect().map(_.toString)
    assert(re.sameElements(Dedup.spanDedup(df).collect().map(_.toString)))
  }

  test("within-doc dedup keeps first occurrences in order, per doc only") {
    val d = Seq(
      (0L, "x x a b x x c d"), // "x x" repeats WITHIN doc 0
      (1L, "x x e f") // same passage here is doc 1's first → kept
    ).toDF("doc_id", "text")
    val out = Dedup.withinDocDedup(d, width = 2).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((4L, 3L, md5Of("x x a b c d"))))
    assert(out(1L) == ((2L, 2L, md5Of("x x e f"))))
    val again = Dedup.withinDocDedup(d.repartition(3), 2).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(again == out)
  }

  private def md5Of(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(
      s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The exact gate's reference: a plain left join of the delta's
    * fingerprints onto the base's min doc_id per fingerprint, rendered
    * row by row.
    */
  private def exactReference(d: org.apache.spark.sql.DataFrame,
      deltaMod: Int): Array[String] = {
    import org.apache.spark.sql.functions.{col, pmod, lit, min => fmin}
    import graft.functions.TextFunctions
    val fp = d.select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val base = fp.filter(pmod(col("doc_id"), lit(deltaMod)) =!= 0)
      .groupBy("fp").agg(fmin("doc_id").as("first_seen"))
    fp.filter(pmod(col("doc_id"), lit(deltaMod)) === 0)
      .join(base, Seq("fp"), "left")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.coalesce(col("first_seen"), lit(-1L))
          .as("first_seen"),
        org.apache.spark.sql.functions
          .when(col("first_seen").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("is_dup"))
      .orderBy("doc_id").collect().map(_.toString)
  }

  private def verdicts(out: org.apache.spark.sql.DataFrame) =
    out.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap

  test("exact incremental gate equals the plain left join row for row") {
    for (deltaMod <- Seq(2, 3))
      assert(Dedup.incrementalExact(docs, deltaMod).collect().map(_.toString)
        .sameElements(exactReference(docs, deltaMod)),
        s"gate diverged from the reference join at deltaMod=$deltaMod")
    // the verdicts themselves: doc 0 is delta (0%3==0); docs 1,2 are
    // base copies of its normalized text -> dup with first_seen=1
    val m = verdicts(Dedup.incrementalExact(docs))
    assert(m(0L) == ((1L, 1L)))
    assert(m(3L) == ((-1L, 0L)))
  }

  test("exact incremental gate is lazy: construction runs no job") {
    val sc = spark.sparkContext
    val group = "dedup-spec-lazy-gate"
    val marker = "dedup-spec-lazy-gate-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "construct the exact gate")
      val out = Dedup.incrementalExact(docs)
      // a later job in its own group: the listener bus delivers in
      // order, so once it is seen every construction job would be too
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker), "marker job never reached the listener")
      val constructionJobs = seen.toArray.count(_ == group)
      assert(constructionJobs == 0,
        s"constructing the gate ran $constructionJobs jobs")
      assert(out.columns.toSeq == Seq("doc_id", "first_seen", "is_dup"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("bloom exact gate on an empty base marks every delta doc new") {
    // deltaMod=1 → every doc is delta, the base slice is empty: every
    // verdict is first_seen=-1 / is_dup=0
    val out = Dedup.incrementalExact(docs, deltaMod = 1).collect()
    assert(out.length == 5)
    assert(out.forall(r => r.getLong(1) == -1L && r.getLong(2) == 0L))
  }

  test("exact incremental gate: NULL, empty and whitespace-only texts") {
    // deltaMod=2: even doc_ids are delta, odd are base. md5(NULL) is
    // NULL, and a NULL fingerprint never matches (LEFT JOIN USING
    // semantics), even against a NULL on the base side; space-only
    // text trims to '' and matches a base ''; tabs and newlines
    // survive trim and collapse to one space
    val adv = Seq[(Long, String)](
      (0L, null), (1L, null),
      (2L, ""), (3L, "   "),
      (4L, "     "), (5L, ""),
      (6L, "\t \n"), (7L, " \n"),
      (8L, " \t"), (10L, "only in the delta"),
      (9L, "Only  IN the base"), (12L, "only in the base ")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(adv, deltaMod = 2)
    assert(out.collect().map(_.toString)
      .sameElements(exactReference(adv, deltaMod = 2)))
    val m = verdicts(out)
    assert(m.keySet == Set(0L, 2L, 4L, 6L, 8L, 10L, 12L))
    assert(m(0L) == ((-1L, 0L)), "a NULL fingerprint matched")
    assert(m(2L) == ((3L, 1L)))
    assert(m(4L) == ((3L, 1L)))
    assert(m(6L) == ((7L, 1L)))
    assert(m(8L) == ((7L, 1L)))
    assert(m(10L) == ((-1L, 0L)))
    assert(m(12L) == ((9L, 1L)))
  }

  test("lshEval scores LSH candidates against exact-Jaccard truth") {
    // truth at tau=0.5 over `docs`: (0,1) J=1.0, (0,4)/(1,4) J=0.75;
    // the case variant 2 sits at J=0.4 and the unrelated doc 3 at ~0
    val r = Dedup.lshEval(docs, sampleMod = 1).collect()
    assert(r.length == 1)
    val row = r.head
    val (det, tru, tp) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(tru == 3, s"truth=$tru")
    assert(tp >= 1 && tp <= math.min(det, tru)) // (0,1) always collides
    assert(row.getLong(3) == det - tp && row.getLong(4) == tru - tp)
    // every LSH verdict at est≥0.5 on this fixture is a true pair
    assert(row.getDouble(5) == 1.0)
    assert(row.getDouble(6) == tp.toDouble / tru)
  }

  test("lshEval on an empty corpus yields null rates, zero counts") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = Dedup.lshEval(empty, sampleMod = 1).collect()
    assert(r.length == 1)
    assert(r.head.isNullAt(5) && r.head.isNullAt(6))
  }

  private def mapRows(path: String): Array[String] =
    Dedup.readClusterMap(spark, path)
      .collect().map(_.toString).sorted

  test("growing the cluster map by append equals building it fresh") {
    import org.apache.spark.sql.functions.col
    // base owns the {0,1} dup pair plus the unrelated 3; the delta
    // brings 2 (ws/case variant of 0) and 4 (near-dup of 0), so the
    // append must EXTEND a base component through delta-base edges
    val base = docs.filter(col("doc_id") <= 1 || col("doc_id") === 3)
    val delta = docs.filter(col("doc_id") === 2 || col("doc_id") === 4)
    val tmp = java.nio.file.Files.createTempDirectory("clmap_grow")
    val grown = tmp.resolve("grown").toString
    val fresh = tmp.resolve("fresh").toString
    val store = tmp.resolve("sigs").toString
    Dedup.writeSignatureStore(base, store, sampleMod = 1)
    Dedup.writeClusterMap(base, grown, sampleMod = 1)
    Dedup.appendToClusterMap(grown, store, delta, sampleMod = 1)
    Dedup.writeClusterMap(docs, fresh, sampleMod = 1)
    val g = mapRows(grown)
    assert(g.sameElements(mapRows(fresh)) && g.nonEmpty,
      "appended cluster map diverged from fresh re-clustering")
    // the cross-batch merge really happened: 4 (and on this fixture's
    // md5 draws possibly 2) joined component 0 — at minimum the
    // near-dup 4 must carry label 0 with a grown size
    val byDoc = Dedup.readClusterMap(spark, grown)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(byDoc(4L)._1 == 0L && byDoc(4L)._2 >= 3L,
      s"delta doc 4 not folded into component 0: ${byDoc(4L)}")
  }

  test("cluster-map append over two batches equals fresh; untouched rows survive") {
    import org.apache.spark.sql.functions.col
    // batch 2 (docs 3: unrelated singleton) touches NOTHING the
    // batch-3 delta later links to — its row must ride through the
    // second append untouched
    val b0 = docs.filter(col("doc_id") <= 1)
    val b1 = docs.filter(col("doc_id") === 2 || col("doc_id") === 3)
    val b2 = docs.filter(col("doc_id") === 4)
    val tmp = java.nio.file.Files.createTempDirectory("clmap_grow2")
    val grown = tmp.resolve("grown").toString
    val fresh = tmp.resolve("fresh").toString
    val store = tmp.resolve("sigs").toString
    Dedup.writeSignatureStore(b0, store, sampleMod = 1)
    Dedup.writeClusterMap(b0, grown, sampleMod = 1)
    Dedup.appendToClusterMap(grown, store, b1, sampleMod = 1)
    Dedup.appendToSignatureStore(b1, store, sampleMod = 1)
    val mid = Dedup.readClusterMap(spark, grown)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    Dedup.appendToClusterMap(grown, store, b2, sampleMod = 1)
    Dedup.writeClusterMap(docs, fresh, sampleMod = 1)
    val g = mapRows(grown)
    assert(g.sameElements(mapRows(fresh)) && g.nonEmpty,
      "two-batch append diverged from fresh re-clustering")
    // the unrelated singleton 3 kept its mid-state row verbatim
    val fin = Dedup.readClusterMap(spark, grown)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(fin(3L) == mid(3L) && fin(3L) == (3L, 1L))
  }

  test("append merges two separate base components through a bridging delta doc") {
    // near-dup chain: T and T' share a 30-word prefix with disjoint
    // 30-word suffixes (shingle Jaccard 0.32 — below the banding +
    // est rails, so the base map holds them as SEPARATE components);
    // the bridge is the midpoint (prefix + half of each suffix,
    // J ≈ 0.59 / 0.55 to the two sides). The append probes with 8
    // two-row bands so a collision with EACH side is near-certain,
    // and gates at est ≥ 0.25 to absorb 16-hash estimate noise (md5
    // est_sims are deterministic: whatever this fixture measures, it
    // measures forever). The merge path exercised: TWO touched
    // components' star edges enter one contraction loop with the
    // delta edges and come out relabelled to the global min.
    val pre = Seq.tabulate(30)(i => s"common$i").mkString(" ")
    val tA = pre + " " + Seq.tabulate(30)(i => s"alpha$i").mkString(" ")
    val tB = pre + " " + Seq.tabulate(30)(i => s"beta$i").mkString(" ")
    val mid = pre + " " +
      (Seq.tabulate(15)(i => s"alpha$i") ++
        (15 until 30).map(i => s"beta$i")).mkString(" ")
    val base = Seq((0L, tA), (1L, tA), (10L, tB), (11L, tB))
      .toDF("doc_id", "text")
    val delta = Seq((20L, mid)).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("clmap_bridge")
    val grown = tmp.resolve("grown").toString
    val store = tmp.resolve("sigs").toString
    Dedup.writeSignatureStore(base, store, bands = 8, sampleMod = 1)
    Dedup.writeClusterMap(base, grown, sampleMod = 1)
    val before = Dedup.readClusterMap(spark, grown)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before == Map(0L -> 0L, 1L -> 0L, 10L -> 10L, 11L -> 10L))
    Dedup.appendToClusterMap(grown, store, delta, bands = 8,
      sampleMod = 1, minEstSim = 0.25)
    val after = Dedup.readClusterMap(spark, grown)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(after.toSet ==
      Set(0L, 1L, 10L, 11L, 20L).map(d => (d, 0L, 5L)),
      s"bridge merge failed: ${after.mkString(", ")}")
  }

  test("replayed cluster-map append is a no-op; compaction folds overlays") {
    import org.apache.spark.sql.functions.col
    val base = docs.filter(col("doc_id") <= 1 || col("doc_id") === 3)
    val delta = docs.filter(col("doc_id") === 2 || col("doc_id") === 4)
    val tmp = java.nio.file.Files.createTempDirectory("clmap_replay")
    val grown = tmp.resolve("grown").toString
    val store = tmp.resolve("sigs").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def batchDirs(): Seq[String] = fs
      .listStatus(new org.apache.hadoop.fs.Path(grown))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted.toSeq
    Dedup.writeSignatureStore(base, store, sampleMod = 1)
    Dedup.writeClusterMap(base, grown, sampleMod = 1)
    assert(batchDirs().isEmpty)
    Dedup.appendToClusterMap(grown, store, delta, sampleMod = 1)
    val rows = mapRows(grown)
    val dirs = batchDirs()
    assert(dirs.size == 1 && dirs.head.startsWith("batch=1_"))
    // replay the SAME delta: same content tag → publish skipped
    Dedup.appendToClusterMap(grown, store, delta, sampleMod = 1)
    assert(batchDirs() == dirs, "replayed append published a new batch")
    assert(mapRows(grown).sameElements(rows))
    // the overlaid read takes the broadcast-anti shape: the base
    // frame joins the (tiny) overlay winner ids under an explicit
    // broadcast — the base never shuffles; the only hash exchange in
    // the whole read is the overlay-sized latest-wins aggregate
    val readPlan = Dedup.readClusterMap(spark, grown)
      .queryExecution.executedPlan.toString
    assert(readPlan.contains("LeftAnti, BuildRight"), readPlan)
    assert(!readPlan.contains("SortMergeJoin"), readPlan)
    // the ≤2 hash exchanges are BOTH overlay-sized (the latest-wins
    // agg + the distinct broadcast build side); the base FileScan
    // feeds the anti-join directly — no exchange on the base branch
    assert("Exchange hashpartitioning".r.findAllIn(readPlan).size <= 2,
      readPlan)
    assert("""BroadcastHashJoin[^\n]*\n[^\n]*FileScan parquet"""
      .r.findFirstIn(readPlan).isDefined,
      "base scan is not the anti-join's unshuffled probe side\n" +
        readPlan)
    // compaction folds the overlay into base/ without changing reads
    assert(Dedup.compactClusterMap(spark, grown) == 1)
    assert(batchDirs().isEmpty, "compaction left overlay batches behind")
    assert(mapRows(grown).sameElements(rows),
      "compaction changed the map contents")
    assert(Dedup.compactClusterMap(spark, grown) == 0) // idempotent
    // the replay guard OUTLIVES compaction: the _applied ledger rode
    // into the new generation, so re-appending the folded delta is
    // still a no-op (a re-append would double-feed its docs into the
    // node frame and corrupt cluster sizes)
    Dedup.appendToClusterMap(grown, store, delta, sampleMod = 1)
    assert(batchDirs().isEmpty,
      "replayed append after compaction published a batch")
    assert(mapRows(grown).sameElements(rows))
    // maintenance policy: under threshold = no-op, at threshold = fold
    val d2 = Seq((7L, "another wholly new document about engines"))
      .toDF("doc_id", "text")
    Dedup.appendToSignatureStore(delta, store, sampleMod = 1)
    Dedup.appendToClusterMap(grown, store, d2, sampleMod = 1)
    assert(Dedup.maintainClusterMap(spark, grown, maxBatches = 2) == 0)
    assert(Dedup.maintainClusterMap(spark, grown, maxBatches = 1) == 1)
    assert(batchDirs().isEmpty)
  }

  test("append to a missing or incomplete cluster map is refused") {
    import org.apache.spark.sql.functions.col
    val delta = docs.filter(col("doc_id") === 2)
    val tmp = java.nio.file.Files.createTempDirectory("clmap_refuse")
    val store = tmp.resolve("sigs").toString
    Dedup.writeSignatureStore(docs, store, sampleMod = 1)
    intercept[IllegalArgumentException] {
      Dedup.appendToClusterMap(tmp.resolve("nope").toString, store,
        delta, sampleMod = 1)
    }
  }

  test("crashed store swap auto-recovers the complete .old generation") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("clmap_crash")
    val path = tmp.resolve("map").toString
    Dedup.writeClusterMap(docs, path, sampleMod = 1)
    val rows = mapRows(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // simulate a crash between swapIn's two renames: the complete
    // generation sits in `.old`, nothing at the published path
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old")))
    // the completeness gate self-heals instead of reporting missing
    assert(Dedup.isCompleteSignatureStore(fs, path),
      "gate did not recover the .old generation")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".old")))
    assert(mapRows(path).sameElements(rows))
  }

  test("containment store over an empty base probes empty, accepts appends") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val probeDocs = Seq((0L, "alpha beta gamma delta " +
      Seq.tabulate(16)(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("ctstore_empty")
    val path = tmp.resolve("store").toString
    Dedup.writeContainmentStore(empty, path, sampleMod = 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(Dedup.isCompleteSignatureStore(fs, path))
    // probe against nothing: empty frame with the full output schema
    val r = Dedup.containmentFromStore(path, probeDocs, sampleMod = 1)
    assert(r.columns.toSeq ==
      Seq("d1", "d2", "n1", "n2", "common", "containment"))
    assert(r.count() == 0L)
    // the store still accepts appends and then probes normally
    Dedup.appendToContainmentStore(probeDocs, path, stride = 4,
      sampleMod = 1)
    val self = Dedup.containmentFromStore(path,
      probeDocs.withColumn("doc_id",
        org.apache.spark.sql.functions.col("doc_id") + 100L),
      tau = 0.9, sampleMod = 1).collect()
    assert(self.length == 1 && self.head.getDouble(5) == 1.0)
  }

  test("store stats report completeness, overlays, ledger and crash evidence") {
    import org.apache.spark.sql.functions.col
    import graft.operators.StoreStats
    val base = docs.filter(col("doc_id") <= 1 || col("doc_id") === 3)
    val delta = docs.filter(col("doc_id") === 2 || col("doc_id") === 4)
    val tmp = java.nio.file.Files.createTempDirectory("storestats")
    val map = tmp.resolve("map").toString
    val store = tmp.resolve("sigs").toString
    Dedup.writeSignatureStore(base, store, sampleMod = 1)
    Dedup.writeClusterMap(base, map, sampleMod = 1)
    Dedup.appendToClusterMap(map, store, delta, sampleMod = 1)
    def row(name: String) = StoreStats.inspect(spark,
        Map("map" -> map, "sigs" -> store, "gone" -> (map + "_nope")))
      .collect().map(r => r.getString(0) -> r).toMap.apply(name)
    val m = row("map")
    assert(m.getBoolean(1) && !m.getBoolean(2)) // complete, not recovery
    assert(m.getInt(3) == 1 && m.getInt(4) == 1) // 1 overlay, 1 ledger tag
    assert(m.getLong(5) > 0 && m.getLong(6) > 0) // files, bytes
    assert(!m.getBoolean(7) && !m.getBoolean(8) && m.getInt(9) == 0)
    val g = row("gone")
    assert(!g.getBoolean(1) && !g.getBoolean(2) && g.getLong(5) == 0L)
    // crash between swap renames: incomplete root, complete .old —
    // reported as recoverable, NOT silently healed (inspect observes)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(map),
      new org.apache.hadoop.fs.Path(map + ".old")))
    val c = row("map")
    assert(!c.getBoolean(1) && c.getBoolean(2),
      s"crashed generation not reported recoverable: $c")
    assert(fs.exists(new org.apache.hadoop.fs.Path(map + ".old")),
      "inspect mutated the store")
    // the subdir-publishing families (r12-late) report complete via
    // their own frame-level gate markers, not a root _SUCCESS
    val profile = tmp.resolve("profile").toString
    val index = tmp.resolve("index").toString
    val rich = Seq.tabulate(20)(i => (i.toLong, s"tok${i % 5} body",
        "en", s"src${i % 2}", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    graft.operators.Profiling.writeProfileStore(rich, profile)
    graft.operators.SearchIndex.writeIndexStore(rich, index)
    val pr = StoreStats.inspect(spark,
        Map("profile" -> profile, "index" -> index))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(pr("profile").getBoolean(1), s"profile store: ${pr("profile")}")
    assert(pr("index").getBoolean(1), s"index store: ${pr("index")}")
    assert(pr("index").getInt(3) >= 2) // postings + doclens batch dirs
  }

  test("containment append to a missing store is refused") {
    val tmp = java.nio.file.Files.createTempDirectory("ctstore_refuse")
    intercept[IllegalArgumentException] {
      Dedup.appendToContainmentStore(docs,
        tmp.resolve("nope").toString, sampleMod = 1)
    }
  }

  // ---- exactSubstringDedup (distributed suffix ranking) ----

  /** Independent literal-gram reference with the same output shape —
    * no suffix ranks anywhere, so agreement certifies the
    * prefix-doubling equivalence classes (the Spark-local mirror of
    * the cross-engine DuckDB oracle).
    */
  private def gramReference(d: org.apache.spark.sql.DataFrame,
      L: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val g = d.select(col("doc_id"), col("text"), explode(expr(
        s"CASE WHEN length(text) < $L THEN array() " +
          s"ELSE sequence(1, length(text) - ${L - 1}) END")).as("i"))
      .select(col("doc_id"), col("i"),
        expr(s"substring(text, i, $L)").as("s"))
    val c = g.groupBy("s").agg(count(lit(1)).as("cnt"))
    val st = g.join(c, "s").filter(col("cnt") >= 2)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("ss"))
    d.join(st, Seq("doc_id"), "left")
      .withColumn("ss",
        coalesce(col("ss"), expr("CAST(array() AS array<int>)")))
      .withColumn("kept", expr(
        s"""concat_ws('', transform(
           |  filter(CASE WHEN length(text) < 1 THEN array()
           |         ELSE sequence(1, length(text)) END,
           |    p -> NOT exists(ss, s -> p >= s AND p <= s + ${L - 1})),
           |  p -> substring(text, p, 1)))""".stripMargin))
      .select(col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars"),
        size(col("ss")).cast("bigint").as("n_dup_starts"),
        (length(col("text")) - length(col("kept"))).cast("bigint")
          .as("n_removed"),
        expr(s"""size(filter(ss,
           |  s -> size(filter(ss, p -> p < s AND s - p <= $L)) = 0))"""
          .stripMargin).cast("bigint").as("n_spans"),
        md5(col("kept")).as("clean_md5"))
      .orderBy("doc_id")
  }

  private def substringCorpus = {
    val block = Seq.tabulate(16)(i => s"shared$i").mkString(" ") // 133 ch
    Seq(
      (0L, s"left context alpha $block right context omega"),
      (1L, s"totally different opening $block and a different close"),
      (2L, "a unique document with no long repeats anywhere inside it"),
      (3L, "short doc"), // below any tested threshold
      (4L, "ab" * 40), // self-overlapping internal repeat, unique doc
      (5L, "")
    ).toDF("doc_id", "text")
  }

  test("exactSubstringDedup matches the literal-gram reference " +
    "(pow2, non-pow2, and small thresholds)") {
    // 6: K=4 < 8 so the seed itself is length 4, no doubling;
    // 8: seed == K == minLen (both final reads degenerate);
    // 9: K=8=seed, no doubling, rb = lead(r, 1);
    // 16: exactly one doubling; 32: pow2 with doublings;
    // 40: non-pow2 with doublings (the two-window composition)
    for (l <- Seq(6, 8, 9, 16, 32, 40)) {
      val out = Dedup.exactSubstringDedup(substringCorpus, minLen = l)
        .collect().map(_.toString)
      val ref = gramReference(substringCorpus, l)
        .collect().map(_.toString)
      assert(out.sameElements(ref), s"minLen=$l")
    }
  }

  test("exactSubstringDedup strips exactly the planted shared block") {
    val out = Dedup.exactSubstringDedup(substringCorpus, minLen = 40)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // docs 0 and 1 share " block " (133 chars + both flanking spaces
    // = 135) in otherwise-different contexts: one merged span each,
    // exactly the maximal shared run removed from each
    assert(out(0L)._3 == 135L && out(0L)._4 == 1L)
    assert(out(1L)._3 == 135L && out(1L)._4 == 1L)
    // the unique and short docs pass through untouched
    assert(out(2L)._3 == 0L && out(2L)._4 == 0L)
    assert(out(3L) == ((9L, 0L, 0L, 0L)))
    // the self-overlapping run duplicates every window WITHIN one doc
    // (the paper's criterion, unlike spanDedup's >=2-distinct-docs):
    // the whole doc is covered by one merged span
    assert(out(4L) == ((80L, 41L, 80L, 1L)))
    // empty text survives the whole pipeline
    assert(out(5L) == ((0L, 0L, 0L, 0L)))
  }

  test("exactSubstringDedup: forced re-rank path (packCap = 0) equals " +
    "the packed path and the gram reference") {
    for (l <- Seq(6, 40)) {
      val packed = Dedup.exactSubstringDedup(substringCorpus, l)
        .collect().map(_.toString)
      val reranked = Dedup.exactSubstringDedup(substringCorpus, l, 0L)
        .collect().map(_.toString)
      assert(reranked.sameElements(packed), s"minLen=$l")
    }
  }

  test("substring store: incremental ≡ fresh restricted to the delta") {
    import org.apache.spark.sql.functions.{col, expr}
    val all = substringCorpus
    val base = all.filter(expr("pmod(doc_id, 2) = 1"))
    val delta = all.filter(expr("pmod(doc_id, 2) = 0"))
    val tmp = java.nio.file.Files.createTempDirectory("substr_store")
    val path = tmp.resolve("store").toString
    Dedup.writeSubstringStore(base, path, minLen = 40)
    val inc = Dedup.exactSubstringDedupIncremental(delta, path)
      .collect().map(_.toString)
    // the batch path uses suffix ranks, the store path md5 grams —
    // agreement is another cross-algorithm law
    val fresh = Dedup.exactSubstringDedup(all, minLen = 40)
      .filter(expr("pmod(doc_id, 2) = 0"))
      .collect().map(_.toString)
    assert(inc.sameElements(fresh))
    // cross-split duplication is really consulted: doc 0 and 1 share
    // the planted block across the base/delta boundary
    val byId = Dedup.exactSubstringDedupIncremental(delta, path)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(byId(0L) > 0L)
  }

  test("substring store: append ≡ fresh, replay is a no-op, " +
    "compaction is invisible") {
    import org.apache.spark.sql.functions.expr
    val all = substringCorpus
    val b1 = all.filter(expr("doc_id IN (1, 3)"))
    val b2 = all.filter(expr("doc_id IN (4, 5)"))
    val delta = all.filter(expr("doc_id IN (0, 2)"))
    val tmp = java.nio.file.Files.createTempDirectory("substr_app")
    val grown = tmp.resolve("grown").toString
    val fresh = tmp.resolve("fresh").toString
    Dedup.writeSubstringStore(b1, grown, minLen = 40)
    Dedup.appendToSubstringStore(b2, grown)
    Dedup.writeSubstringStore(b1.union(b2), fresh, minLen = 40)
    val viaGrown = Dedup.exactSubstringDedupIncremental(delta, grown)
      .collect().map(_.toString)
    val viaFresh = Dedup.exactSubstringDedupIncremental(delta, fresh)
      .collect().map(_.toString)
    assert(viaGrown.sameElements(viaFresh))
    // replayed batch: marker present -> no new overlay, output stable
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def batchDirs(p: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .count(_.getPath.getName.startsWith("batch="))
    val before = batchDirs(grown)
    Dedup.appendToSubstringStore(b2, grown)
    assert(batchDirs(grown) == before)
    assert(Dedup.exactSubstringDedupIncremental(delta, grown)
      .collect().map(_.toString).sameElements(viaGrown))
    // compaction folds the overlay away without changing any probe
    assert(Dedup.compactSubstringStore(spark, grown) == before)
    assert(batchDirs(grown) == 0)
    assert(Dedup.exactSubstringDedupIncremental(delta, grown)
      .collect().map(_.toString).sameElements(viaGrown))
    // the applied ledger OUTLIVES the fold: a post-compaction replay
    // of the folded batch must still be a no-op
    Dedup.appendToSubstringStore(b2, grown)
    assert(batchDirs(grown) == 0)
    // after append + compaction the folded base still carries both key
    // columns and the layout discriminator (a dropped `_meta_keywidth`
    // would make every later consumer refuse the store)
    assert(spark.read.parquet(s"$grown/base").columns.toSet ==
      Set("gh", "gh2", "cnt"))
    val kw = new org.apache.hadoop.fs.Path(grown, "_meta_keywidth")
    val in = fs.open(kw)
    try assert(scala.io.Source.fromInputStream(in).mkString.trim == "120")
    finally in.close()
  }

  test("substring decontamination: train-overlap strips, " +
    "probe-internal repetition does NOT") {
    import org.apache.spark.sql.functions.expr
    // store (train side) = docs {1, 2}: doc 1 carries the planted
    // block; probe = {0, 3, 4}: doc 0 shares the block with TRAIN,
    // doc 4 is the self-overlapping run occurring ONLY in the probe
    val train = substringCorpus.filter(expr("doc_id IN (1, 2)"))
    val probe = substringCorpus.filter(expr("doc_id IN (0, 3, 4)"))
    val tmp = java.nio.file.Files.createTempDirectory("substr_decon")
    val path = tmp.resolve("store").toString
    Dedup.writeSubstringStore(train, path, minLen = 40)
    val out = Dedup.substringDecontaminate(probe, path)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    // doc 0: the shared 135-char run is train-contaminated -> stripped
    assert(out(0L)._2 == 135L && out(0L)._3 == 1L)
    // doc 3: short, untouched
    assert(out(3L) == ((9L, 0L, 0L)))
    // doc 4: duplicated WITHIN the probe only — decontamination keeps
    // it (the exact semantic contrast with the >= 2 multiplicity rule,
    // under which exactSubstringDedupIncremental strips it fully)
    assert(out(4L) == ((80L, 0L, 0L)))
    val inc = Dedup.exactSubstringDedupIncremental(probe, path)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(inc(4L) == 80L)
  }

  test("substring store: append to a missing store is refused") {
    val tmp = java.nio.file.Files.createTempDirectory("substr_refuse")
    intercept[IllegalArgumentException] {
      Dedup.appendToSubstringStore(substringCorpus,
        tmp.resolve("nope").toString)
    }
  }

  test("substring store: report on a missing store is refused, not an " +
    "AnalysisException") {
    val tmp = java.nio.file.Files.createTempDirectory("substr_rep_refuse")
    intercept[IllegalArgumentException] {
      Dedup.substringStoreReport(spark, tmp.resolve("nope").toString)
    }
  }

  test("substring store: a legacy 60-bit-key store is refused by every " +
    "consumer, before anything is written") {
    val tmp = java.nio.file.Files.createTempDirectory("substr_legacy")
    val path = tmp.resolve("store").toString
    // the pre-r16 narrow layout by hand: (gh, cnt) base, `_meta_minlen`
    // and `_SUCCESS`, no `_meta_keywidth`
    Seq((1L, 2L), (7L, 1L)).toDF("gh", "cnt").write.parquet(s"$path/base")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def touch(name: String, body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(path, name), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    touch("_meta_minlen", "40")
    touch("_SUCCESS", "")
    def refused(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(path) &&
        e.getMessage.contains("writeSubstringStore"), e.getMessage)
    }
    refused(Dedup.appendToSubstringStore(substringCorpus, path))
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .exists(_.getPath.getName.startsWith("batch=")))
    refused(Dedup.compactSubstringStore(spark, path))
    refused(Dedup.exactSubstringDedupIncremental(substringCorpus, path))
    refused(Dedup.substringStoreReport(spark, path))
    refused(Dedup.substringDecontaminate(substringCorpus, path))
  }

  test("substring store: over-cap probes fall back to the shuffle-side " +
    "prune with identical verdicts") {
    import org.apache.spark.sql.functions.expr
    val all = substringCorpus
    val base = all.filter(expr("pmod(doc_id, 2) = 1"))
    val delta = all.filter(expr("pmod(doc_id, 2) = 0"))
    val tmp = java.nio.file.Files.createTempDirectory("substr_guard")
    val path = tmp.resolve("store").toString
    Dedup.writeSubstringStore(base, path, minLen = 40)
    // maxBroadcastKeys = 0 forces the left-semi shuffle_hash branch
    val bc = Dedup.exactSubstringDedupIncremental(delta, path)
      .collect().map(_.toString)
    val sh = Dedup.exactSubstringDedupIncremental(delta, path, 0L)
      .collect().map(_.toString)
    assert(sh.sameElements(bc))
    val dbc = Dedup.substringDecontaminate(delta, path)
      .collect().map(_.toString)
    val dsh = Dedup.substringDecontaminate(delta, path, 0L)
      .collect().map(_.toString)
    assert(dsh.sameElements(dbc))
  }

  test("substring ensure helpers tolerate an empty frame") {
    import org.apache.spark.sql.functions.expr
    val empty = substringCorpus.filter(expr("doc_id < 0"))
    // previously NPE'd on max(doc_id) = null; must build a usable
    // (empty) store instead
    val path = Dedup.ensureSubstringStore(empty, "emptyfp_spec")
    val delta = substringCorpus.filter(expr("doc_id IN (0, 1)"))
    val out = Dedup.exactSubstringDedupIncremental(delta, path)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // empty store: only within-delta multiplicity counts — the two
    // docs still share the planted block
    assert(out(0L) == 135L && out(1L) == 135L)
  }

  test("exactSubstringDedup counts CHARACTERS on multi-byte text " +
    "(both rank paths match the gram reference)") {
    // planted 160-char block of 1–3-byte chars, shared across two docs
    // with fully multi-byte distinct contexts; a byte-unit slip in any
    // stage would shear every window boundary off the reference
    val block = "é中ß∆" * 40
    val corpus = Seq(
      (0L, s"préfixe unique α $block suffixe ω"),
      (1L, s"另一个完全不同的开头 $block 和另一个结尾在这里"),
      (2L, "ünïqüé döc wîth nö löng répéats ïnsïdé ät äll hërë")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(corpus, minLen = 40)
      .collect().map(_.toString)
    val ref = gramReference(corpus, 40).collect().map(_.toString)
    assert(out.sameElements(ref))
    val reranked = Dedup.exactSubstringDedup(corpus, 40, 0L)
      .collect().map(_.toString)
    assert(reranked.sameElements(ref))
    // and the removal is the shared run in CHARACTER units: the block
    // plus both flanking spaces
    val byId = Dedup.exactSubstringDedup(corpus, minLen = 40)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(byId(0L) == ((162L, 1L)))
    assert(byId(1L) == ((162L, 1L)))
    assert(byId(2L) == ((0L, 0L)))
  }

  test("exactSubstringDedup: fresh-alphabet append leaves prior rows " +
    "unchanged and is layout-independent") {
    val before = Dedup.exactSubstringDedup(substringCorpus, minLen = 40)
      .collect().map(r => r.getLong(0) -> r.toString).toMap
    val appended = substringCorpus.union(Seq(
      (6L, Seq.tabulate(30)(i => s"novel$i").mkString(" "))
    ).toDF("doc_id", "text"))
    val after = Dedup.exactSubstringDedup(appended, minLen = 40)
      .collect().map(r => r.getLong(0) -> r.toString).toMap
    assert(after.size == before.size + 1)
    before.foreach { case (id, row) => assert(after(id) == row, s"doc $id") }
    val re = Dedup.exactSubstringDedup(appended.repartition(7),
      minLen = 40).collect().map(_.toString)
    assert(re.sameElements(
      Dedup.exactSubstringDedup(appended, minLen = 40)
        .collect().map(_.toString)))
  }
}
