package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints.StageOps
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.DedupFunctions._

/** Deduplication operator family over `documents` / `embeddings`:
  * exact (hash-groupBy), exact n-gram Jaccard (inverted shingle index),
  * MinHash+LSH (the 100 TB path), SimHash (hamming), and
  * embedding-cosine near-dup.
  *
  * Every query is deterministic and oracle-checked: hashes are explicit
  * integer polynomials and vector math runs on quantized integers, so
  * DuckDB reproduces results bit-for-bit.
  */
object DedupQueries {

  /** Exact dedup by content fingerprint (here: md5 of the 40-char prefix,
    * which is where this corpus plants its duplicates). The canonical
    * hash-groupBy: one shuffle on the fingerprint, min-id representative
    * election, only groups with >1 member survive.
    */
  def dExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(substring(col("text"), 1, 40)).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fp"))

  val dExactOracle: String =
    """SELECT md5(substr(text, 1, 40)) AS fp, min(doc_id) AS keeper,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin

  /** Largest vocabulary the bitset representation accepts: 16384 bits =
    * 2 KB per doc. Past that, sorted-array merges win on memory.
    */
  private val MaxBitsetVocab = 16384

  /** Distinct shingle vocabulary, sorted — the bitset dictionary — IF it
    * fits [[MaxBitsetVocab]]; None otherwise. The size gate is a
    * distributed count over a bounded prefix (limit cap+1), so a
    * natural-text corpus with billions of distinct shingles never
    * materializes its vocabulary on the driver — it just routes to the
    * PPJoin path.
    */
  private def vocabOf(base: DataFrame): Option[Array[Long]] = {
    import base.sparkSession.implicits._
    // One job: pull at most cap+1 distinct values; overflow means "too
    // big, use PPJoin" without ever materializing the full vocabulary on
    // the driver. Sorting cap-bounded values locally beats a cluster sort.
    val got = base.select(explode(col("gs")).as("g")).distinct()
      .limit(MaxBitsetVocab + 1).as[Long].collect()
    if (got.length > MaxBitsetVocab) None
    else {
      java.util.Arrays.sort(got)
      Some(got)
    }
  }

  /** doc_id → (bitset, set size), spread across the cluster so the
    * pair-generation stage that follows parallelizes past the source's
    * file-partition count.
    */
  private def encodeBitsets(base: DataFrame, vocab: Array[Long],
      par: Int): DataFrame =
    base.repartition(par)
      .select(col("doc_id"), bitsetUdf(vocab)(col("gs")).as("bits"),
        size(col("gs")).as("n"))

  /** Exact jaccard from an intersection count and the two set sizes — ONE
    * definition of the formula, shared by every scan/verification path so
    * d2/d3/d6 can never drift apart.
    */
  private def jacCol(i: org.apache.spark.sql.Column,
      na: org.apache.spark.sql.Column,
      nb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    i.cast("double") / (na + nb - i).cast("double")

  /** Encoded-corpus docs cap for the broadcast form of the pair scan.
    * The real constraint is BYTES pinned per executor, so the default
    * derives from the measured per-doc pack width against a 128 MB
    * budget ([[MaxBroadcastBytes]]): a 377-shingle corpus packs at
    * ~76 B/doc and broadcasts comfortably at 1 M+ docs, where the old
    * fixed 64 Ki-doc cap forced the shuffled blocked scan and paid
    * ~µs of join machinery per candidate pair — measured 10–40× over
    * the fused in-row sweep at the 30× octave probe. An explicit
    * `spark.graft.dedup.maxBroadcastDocs` still overrides (the escape
    * the route-equivalence specs force). Above
    * the cap [[bitsetPairScanBlocked]] runs — the vocabulary gate
    * alone is NOT enough, because a billion-row corpus with a tiny
    * shingle alphabet still routes to the bitset representation and
    * must not be broadcast.
    */
  private def maxBroadcastDocs(s: SparkSession, bytesPerDoc: Long): Long =
    s.conf.getOption("spark.graft.dedup.maxBroadcastDocs").map(_.toLong)
      .getOrElse(MaxBroadcastBytes / math.max(bytesPerDoc, 1L))

  /** Encoded-corpus bytes the broadcast pair scan may pin per executor. */
  private val MaxBroadcastBytes: Long = 128L * 1024 * 1024

  /** The encoded corpus packed into primitive arrays sorted by doc_id —
    * the one-broadcast state of [[bitsetPairScanFused]].
    */
  private final case class BitsetPack(ids: Array[Long], ns: Array[Int],
    bits: Array[Long], sigs: Array[String], w: Int)

  private def packBitsets(enc: DataFrame, withSigs: Boolean): BitsetPack = {
    val cols = Seq(col("doc_id"), col("bits"), col("n")) ++
      (if (withSigs) Seq(col("sigs")) else Nil)
    // Pack incrementally from a sorted toLocalIterator: the cap bounds
    // the FINAL packed bytes, so transient driver memory must stay at
    // packed-size + one fetched partition of rows — a full collect()
    // materializes every Row (boxed Seq[Long] + per-doc Strings, ~10×
    // the packed width) and would OOM the driver near the byte cap.
    val it = enc.select(cols: _*).sort("doc_id").toLocalIterator()
    val idsB = Array.newBuilder[Long]
    val nsB = Array.newBuilder[Int]
    val bitsB = Array.newBuilder[Long]
    val sigsB = if (withSigs) Array.newBuilder[String] else null
    var w = -1
    while (it.hasNext) {
      val r = it.next()
      idsB += r.getLong(0)
      nsB += r.getInt(2)
      val b = r.getSeq[Long](1)
      if (w < 0) w = b.length
      var j = 0
      while (j < w) { bitsB += b(j); j += 1 }
      if (withSigs) {
        val sg = r.getSeq[String](3)
        var k = 0
        while (k < 4) { sigsB += sg(k); k += 1 }
      }
    }
    BitsetPack(idsB.result(), nsB.result(), bitsB.result(),
      if (withSigs) sigsB.result() else null, math.max(w, 0))
  }

  /** FUSED broadcast pair scan — the under-the-cap fast path: the
    * encoded corpus packs into primitive arrays broadcast ONCE, and
    * each corpus row sweeps all higher-id partners INSIDE the row
    * (size filter → w-word AND+popcount → jaccard ≥ τ → optional
    * band-agreement), emitting only surviving pairs. The same
    * ~1.1·10¹⁰ candidate pairs that cost the broadcast JOIN form
    * ~µs/pair of row machinery run here at ~ns/pair in one tight
    * loop — the d3/d19 octave-probe fix. Exact same pair set and
    * jaccard doubles as the join/blocked forms (the equivalence
    * specs force all routes against each other).
    */
  private def bitsetPairScanFused(enc: DataFrame, tau: Double,
      s: SparkSession, bandAgree: Boolean): DataFrame = {
    val bc = s.sparkContext.broadcast(packBitsets(enc, bandAgree))
    val pairUdf = udf((id: Long, myBits: Seq[Long], myN: Int,
        mySigs: Seq[String]) => {
      val pk = bc.value
      val mb = myBits.toArray
      val msig = if (mySigs == null) null else mySigs.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      var p = java.util.Arrays.binarySearch(pk.ids, id)
      p = if (p >= 0) p + 1 else -p - 1
      while (p < pk.ids.length) {
        val nb = pk.ns(p)
        val mn = math.min(myN, nb)
        val mx = math.max(myN, nb)
        // lossless IEEE size gate — see losslessNeed for the ceil hazard
        if (mx > 0 && mn.toDouble / mx.toDouble >= tau) {
          var inter = 0L
          var j = 0
          val off = p * pk.w
          while (j < pk.w) {
            inter += java.lang.Long.bitCount(mb(j) & pk.bits(off + j))
            j += 1
          }
          val jac = inter.toDouble / (myN + nb - inter).toDouble
          if (jac >= tau) {
            if (msig == null) out += ((pk.ids(p), jac))
            else {
              var agree = false
              var k = 0
              while (k < 4 && !agree) {
                agree = msig(k) == pk.sigs(p * 4 + k)
                k += 1
              }
              if (agree) out += ((pk.ids(p), jac))
            }
          }
        }
        p += 1
      }
      out.toSeq
    })
    val sigsCol =
      if (bandAgree) col("sigs") else lit(null).cast("array<string>")
    enc.select(col("doc_id").as("ia"),
        explode(pairUdf(col("doc_id"), col("bits"), col("n"), sigsCol))
          .as("pj"))
      .select(col("ia"), col("pj._1").as("ib"), col("pj._2").as("jac"))
  }

  /** [[bitsetPairScanFused]] for the CONTAINMENT census: size floor
    * instead of the jaccard size filter, and the band predicate
    * bp = (10000·i) div min(na,nb) ≥ `minBp` applied INSIDE the sweep
    * (same integer arithmetic as the census expression) — without it
    * the sweep materializes all ~n²/2 passing pairs as rows just for
    * the census to drop them, which dominated the 30× probe. Emits
    * (ib, intersection, nb) so the caller's exact integer band
    * arithmetic is unchanged on the survivors.
    */
  private def containmentPairScanFused(enc: DataFrame, minSh: Int,
      minBp: Long, s: SparkSession): DataFrame = {
    val bc = s.sparkContext.broadcast(packBitsets(enc, withSigs = false))
    val pairUdf = udf((id: Long, myBits: Seq[Long], myN: Int) => {
      val pk = bc.value
      val mb = myBits.toArray
      val out =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      var p = java.util.Arrays.binarySearch(pk.ids, id)
      p = if (p >= 0) p + 1 else -p - 1
      while (p < pk.ids.length) {
        val nb = pk.ns(p)
        val mn = math.min(myN, nb)
        if (mn >= minSh) {
          var inter = 0L
          var j = 0
          val off = p * pk.w
          while (j < pk.w) {
            inter += java.lang.Long.bitCount(mb(j) & pk.bits(off + j))
            j += 1
          }
          if (10000L * inter / mn >= minBp)
            out += ((pk.ids(p), inter, nb))
        }
        p += 1
      }
      out.toSeq
    })
    enc.select(col("doc_id").as("ia"), col("n").as("na"),
        explode(pairUdf(col("doc_id"), col("bits"), col("n"))).as("pj"))
      .select(col("ia"), col("na"), col("pj._1").as("ib"),
        col("pj._2").as("i"), col("pj._3").as("nb"))
  }

  /** Pair scan under the lossless size filter
    * min(|A|,|B|) ≥ ⌈τ·max(|A|,|B|)⌉, routed by corpus size: broadcast
    * one side while the encoded corpus is broadcast-sized, blocked
    * repartition scan above that. `carry` columns from `enc` ride along
    * as `<name>_a`/`<name>_b` for caller post-filters (band agreement).
    */
  private def bitsetPairScan(enc: DataFrame, tau: Double, nDocs: Long,
      s: SparkSession, bytesPerDoc: Long): DataFrame = {
    val cap = maxBroadcastDocs(s, bytesPerDoc)
    if (nDocs <= cap) bitsetPairScanFused(enc, tau, s, bandAgree = false)
    else {
      val blocks =
        math.max(2L, math.min(1024L, (nDocs + cap - 1) / cap)).toInt
      bitsetPairScanBlocked(enc, tau, blocks, Seq.empty)
    }
  }

  /** d3's degenerate-bucket route: the jaccard pair scan with the LSH
    * band-agreement post-condition applied WHERE the pairs are
    * produced (inside the fused sweep under the cap, as a column
    * filter on the blocked form above it).
    */
  private def jacPairScanBandAgree(enc: DataFrame, tau: Double,
      nDocs: Long, s: SparkSession, bytesPerDoc: Long): DataFrame = {
    val cap = maxBroadcastDocs(s, bytesPerDoc)
    if (nDocs <= cap) bitsetPairScanFused(enc, tau, s, bandAgree = true)
    else {
      val blocks =
        math.max(2L, math.min(1024L, (nDocs + cap - 1) / cap)).toInt
      val bandAgree = (0 until 4)
        .map(i => col("sigs_a").getItem(i) === col("sigs_b").getItem(i))
        .reduce(_ || _)
      bitsetPairScanBlocked(enc, tau, blocks, Seq("sigs"))
        .filter(bandAgree)
        .select(col("ia"), col("ib"), col("jac"))
    }
  }

  /** The same pair scan with NO broadcast: docs hash into `blocks`
    * buckets; each doc is replicated to every sorted block-pair key
    * (lo, hi) containing its bucket, and pairs meet through an equi-join
    * on the key — a shuffle partitioned by block pair with
    * broadcast-sized per-task state, instead of the whole corpus pinned
    * on every executor. A cross-block pair meets exactly at the sorted
    * pair of its blocks; a same-block pair would meet at EVERY key
    * containing its block, so those are pinned to the diagonal key
    * (blk_a = blk_b ⇒ lo = hi). ia < ib then keeps one orientation.
    * Replication is `blocks` rows per doc — all-pairs work is inherently
    * quadratic; this bounds memory and shuffles by key so it degrades
    * into compute, not an OOM.
    */
  private def bitsetPairScanBlocked(enc: DataFrame, tau: Double,
      blocks: Int, carry: Seq[String]): DataFrame = {
    def side(suffix: String) =
      enc.withColumn("blk", pmod(hash(col("doc_id")), lit(blocks)))
        .withColumn("ob", explode(sequence(lit(0), lit(blocks - 1))))
        .select((least(col("blk"), col("ob")).as("lo") +:
          greatest(col("blk"), col("ob")).as("hi") +:
          col("blk").as("blk" + suffix) +:
          col("doc_id").as("i" + suffix) +:
          col("bits").as("b" + suffix) +: col("n").as("n" + suffix) +:
          carry.map(c => col(c).as(s"${c}_$suffix"))): _*)
    side("a").join(side("b"), Seq("lo", "hi"))
      .filter((col("blka") =!= col("blkb") || col("lo") === col("hi")) &&
        col("ia") < col("ib") &&
        least(col("na"), col("nb")).cast("double") /
          greatest(col("na"), col("nb")) >= lit(tau))
      .withColumn("i", intersectBits(col("ba"), col("bb")))
      .withColumn("jac", jacCol(col("i"), col("na"), col("nb")))
      .filter(col("jac") >= tau)
  }

  /** Exact-Jaccard verification of candidate id pairs against
    * bitset-encoded sets: two narrow joins (~56 B per doc, broadcastable)
    * and an AND+popcount per pair.
    */
  private def verifyBitset(cand: DataFrame, enc: DataFrame, tau: Double)
      : DataFrame =
    cand
      .join(enc.select(col("doc_id").as("ia"), col("bits").as("ba"),
        col("n").as("na")), Seq("ia"))
      .join(enc.select(col("doc_id").as("ib"), col("bits").as("bb"),
        col("n").as("nb")), Seq("ib"))
      .withColumn("i", intersectBits(col("ba"), col("bb")))
      .select(col("ia"), col("ib"),
        jacCol(col("i"), col("na"), col("nb")).as("jac"))
      .filter(col("jac") >= tau)
      .orderBy(col("ia"), col("ib"))

  /** Exact-Jaccard verification against the full SORTED shingle arrays —
    * the general-vocabulary path (merge-intersection per pair).
    */
  private def verifySorted(cand: DataFrame, base: DataFrame, tau: Double)
      : DataFrame = {
    val inter = intersectSortedCount(col("ga"), col("gb"))
    cand
      .join(base.select(col("doc_id").as("ia"), col("gs").as("ga")), Seq("ia"))
      .join(base.select(col("doc_id").as("ib"), col("gs").as("gb")), Seq("ib"))
      .withColumn("i", inter)
      .select(col("ia"), col("ib"),
        jacCol(col("i"), size(col("ga")), size(col("gb"))).as("jac"))
      .filter(col("jac") >= tau)
      .orderBy(col("ia"), col("ib"))
  }

  /** Banded-LSH verification as a BUCKET-LOCAL chunked pair sweep — the
    * big-vocabulary banded route's answer to the candidate-join cliff
    * the heaps-law 10× octave exposed: a Zipf-headed corpus makes LSH
    * buckets only semi-selective (candidates ≈ 10% of all pairs, 1.2·10⁸
    * at 10×), and the join form shipped BOTH ~325-long shingle arrays
    * through shuffles PER CANDIDATE PAIR — hundreds of GB of sort spill
    * before a single verification ran. Here the payload moves once per
    * (doc, band) — docs×bands rows, corpus-proportional — into
    * bucket-chunk groups, and every candidate pair is generated, gated,
    * and verified INSIDE its group: lossless size gate first (~ns), then
    * the sorted-merge intersection only for survivors. Exactly one
    * verification per qualifying pair corpus-wide: a pair colliding in
    * several bands is emitted only by its FIRST agreeing band (the ≤12
    * long compares against earlier band signatures replace the
    * 10⁸-row `distinct()`), and chunking splits giant buckets into
    * bounded (lo, hi) chunk-pair groups so one degenerate bucket cannot
    * serialize a straggler task. Output ≡ the join form: pair ⟺
    * shares ≥1 band bucket AND exact jaccard ≥ τ (same IEEE division).
    */
  private def bandedBucketSweep(base: DataFrame, tau: Double,
      s: SparkSession, nBands: Int = 4, r: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val chunk = 2048
    val w = Window.partitionBy(col("band"), col("sig"))
    val bands = base.select(col("doc_id"), col("gs"),
        size(col("gs")).as("n"), col("mh"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("sig", slice(col("mh"), col("band") * r + 1, lit(r)))
      .withColumn("chk",
        ((row_number().over(w.orderBy(col("doc_id"))) - 1) / chunk)
          .cast("int"))
      .withColumn("nchk",
        ceil(count(lit(1)).over(w) / lit(chunk)).cast("int"))
    val fan = bands
      .withColumn("ob", explode(sequence(lit(0), col("nchk") - 1)))
      .select(col("band"), col("sig"),
        least(col("chk"), col("ob")).as("lo"),
        greatest(col("chk"), col("ob")).as("hi"),
        col("chk"), col("doc_id"), col("gs"), col("n"), col("mh"))
    fan.repartition(col("band"), col("sig"), col("lo"), col("hi"))
      .sortWithinPartitions(col("band"), col("sig"), col("lo"),
        col("hi"), col("chk"), col("doc_id"))
      .mapPartitions { it =>
        final case class Doc(id: Long, gs: Array[Long], n: Int,
          mh: Array[Long])
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Double)]
        var key: (Int, Seq[Long], Int, Int) = null
        val loBuf = scala.collection.mutable.ArrayBuffer.empty[Doc]
        val hiBuf = scala.collection.mutable.ArrayBuffer.empty[Doc]
        def earlierBandAgrees(a: Doc, b: Doc, band: Int): Boolean = {
          var b2 = 0
          while (b2 < band) {
            var k = 0
            var same = true
            while (same && k < r) {
              if (a.mh(b2 * r + k) != b.mh(b2 * r + k)) same = false
              k += 1
            }
            if (same) return true
            b2 += 1
          }
          false
        }
        def pair(a: Doc, b: Doc, band: Int): Unit = {
          val mn = math.min(a.n, b.n)
          val mx = math.max(a.n, b.n)
          // best achievable jac is IEEE(mn/mx) (smaller ⊆ larger):
          // the division form is lossless where ceil(τ·mx) can
          // overshoot an exact-integer boundary under IEEE rounding
          if (mx > 0 && mn.toDouble / mx.toDouble >= tau &&
              !earlierBandAgrees(a, b, band)) {
            val need = losslessNeed(tau, a.n + b.n)
            val i = mergeCountBounded(a.gs, b.gs, need)
            if (i >= 0) {
              val jac = i.toDouble / (a.n + b.n - i).toDouble
              if (jac >= tau) out += ((a.id, b.id, jac))
            }
          }
        }
        def flush(): Unit = if (key != null) {
          val band = key._1
          val triangle = key._3 == key._4
          var i = 0
          while (i < loBuf.length) {
            // chunk assignment is doc_id-ordered, so lo-chunk ids all
            // precede hi-chunk ids — (lo member, hi member) is already
            // the (ia < ib) orientation; the triangle case orders by i<j
            var j = if (triangle) i + 1 else 0
            val other = if (triangle) loBuf else hiBuf
            while (j < other.length) {
              pair(loBuf(i), other(j), band)
              j += 1
            }
            i += 1
          }
          loBuf.clear(); hiBuf.clear()
        }
        it.foreach { row =>
          val k = (row.getInt(0), row.getSeq[Long](1), row.getInt(2),
            row.getInt(3))
          if (k != key) { flush(); key = k }
          val d = Doc(row.getLong(5), row.getSeq[Long](6).toArray,
            row.getInt(7), row.getSeq[Long](8).toArray)
          if (row.getInt(4) == key._3) loBuf += d else hiBuf += d
        }
        flush()
        out.iterator
      }
      .toDF("ia", "ib", "jac")
      .orderBy(col("ia"), col("ib"))
  }

  /** Sweep-if-candidates-explode threshold: the prefix-filtered join
    * routes are kept while their candidate estimate stays under
    * `ratio × allPairs` (healthy text: candidates ≈ near-dups ≈ O(n));
    * past it the join machinery's per-candidate cost (µs of shuffle
    * rows carrying ~325-long arrays) exceeds a blocked all-pairs
    * sweep's per-pair cost (~ns gate, merge only for gate survivors),
    * so the sweep is strictly cheaper — the crossover is ~1/200, the
    * default 1/64 is conservative. Tests set 0 to force the sweep.
    *
    * REGIME BOUNDARY (documented, not closed): a RELATIVE threshold
    * leaves one corner — a very large corpus whose index is healthy in
    * ratio terms but whose candidate count is large absolutely (say
    * n = 10⁷, candidates = 10⁸ = 0.0002 % of pairs). There the join
    * form's intermediate (candidates × both payloads) is spill-heavy
    * while the all-pairs sweep's n² gates are unaffordable; the route
    * that serves it is a PREFIX-GROUP sweep — the [[bandedBucketSweep]]
    * pattern keyed by prefix shingle with min-shared-prefix
    * canonicalization, payload ∝ prefix rows (≈ 66× corpus) instead of
    * ∝ candidates. Not built because no gate reaches that regime at
    * probe scale; the group-sweep machinery it would reuse is in place.
    */
  private def sweepCandRatio(s: SparkSession): Double =
    s.conf.get("spark.graft.dedup.sweepCandRatio", "0.015625").toDouble

  /** Candidate-volume BUDGET — the rung below the sweep escape. The
    * sweep routes make an adversarial corpus affordable per-candidate
    * (~µs → ~ns gates), but a corpus whose qualifying-candidate set is
    * quadratic BY CONSTRUCTION (template-heavy text: the heaps octave
    * measured 10–29 % of ALL pairs as candidates) has no sub-quadratic
    * exact route — at 100 TB the run needs a budget, not a proof.
    * When a route's measured candidate volume exceeds this budget, the
    * EXACT pair operators refuse loudly (the pair list would be wrong
    * if silently sampled) and point at the sampled census forms
    * ([[dJaccardCensusBudget]] / [[dContainmentCensusBudget]]), which
    * apply d20's deterministic id-arithmetic keep rule at the
    * verification stage and scale the census back by the rate.
    * 0 (default) = unlimited.
    */
  private def candBudget(s: SparkSession): Long =
    s.conf.get("spark.graft.dedup.candBudget", "0").toLong

  /** Forced sampling rate for the budget escape (gates/specs pin 8 so
    * the oracle replays d20's exact `mod 64 < 8` rule); 0 = derive
    * from the budget as ⌈volume/budget⌉ — the setting that makes
    * sweep wall-time ∝ budget instead of ∝ corpus².
    */
  private def candSampleRate(s: SparkSession): Long =
    s.conf.get("spark.graft.dedup.candSampleRate", "0").toLong

  /** Fail-loud guard on the EXACT routes: over budget, the honest
    * answers are "raise the budget" or "take the sampled census" —
    * never a silently truncated pair list.
    */
  private def requireUnderBudget(s: SparkSession, volume: Long,
      op: String): Unit = {
    val b = candBudget(s)
    require(b <= 0L || volume <= b,
      s"[$op] candidate volume $volume exceeds " +
        s"spark.graft.dedup.candBudget=$b: the exact pair form is " +
        "Ω(candidates) by construction on this corpus — raise the " +
        "budget or use the sampled census form " +
        "(dJaccardCensusBudget / dContainmentCensusBudget)")
  }

  /** The chunk-pair fan shared by the blocked sorted-array sweeps:
    * docs hash into ⌈n/chunk⌉ chunks and each row copies to every
    * (lo, hi) chunk-pair group containing its chunk, so every unordered
    * doc pair lands in EXACTLY one group and group memory is bounded by
    * two chunks of payloads. Payload shuffle is n × ⌈n/chunk⌉ rows —
    * the √-decomposition trade every blocked pair scan makes.
    */
  private def chunkPairFan(enc: DataFrame, nDocs: Long,
      chunk: Int = 4096): DataFrame = {
    // Parallelism floor (scale-adaptive, guide §2.5/§2.6): the group
    // count c(c+1)/2 is the sweep's task-level parallelism, and a
    // corpus smaller than a few chunks would otherwise sweep on a
    // handful of cores (sf0.1: 5000 docs -> 2 chunks -> THREE groups
    // for a 12.5M-pair scan). Target ≥ 4 groups per core so hash
    // placement of groups onto partitions balances; at real scale
    // n/chunk >> cores and the floor is inert. Duplication (payload
    // rows = n × chunks) is the √-decomposition trade the fan already
    // makes — the floor only engages where the corpus is small, so
    // the extra bytes are bounded by (corpus × ~4√cores).
    val par = enc.sparkSession.sparkContext.defaultParallelism
    val cMin = math.ceil((math.sqrt(1.0 + 32.0 * par) - 1) / 2).toInt
    val nchk = math.min(math.max(nDocs, 1L),
      math.max(math.max(1L, (nDocs + chunk - 1) / chunk), cMin)).toInt
    enc
      .withColumn("chk", pmod(hash(col("doc_id")), lit(nchk)).cast("int"))
      .withColumn("ob", explode(sequence(lit(0), lit(nchk - 1))))
      .select(least(col("chk"), col("ob")).as("lo"),
        greatest(col("chk"), col("ob")).as("hi"),
        col("chk"), col("doc_id"), col("gs"), col("n"))
      .repartition(col("lo"), col("hi"))
      .sortWithinPartitions(col("lo"), col("hi"), col("chk"),
        col("doc_id"))
  }

  /** Blocked all-pairs jaccard sweep on sorted shingle arrays — the
    * big-vocabulary escape for a corpus whose prefix index degenerates
    * (Zipf-headed short docs: the heaps-law octave measured PPJoin
    * candidates at 29% of ALL pairs, and the join-form verification
    * died in sort spill). Per pair: lossless size gate (~ns), then the
    * sorted-merge intersection only for gate survivors. Same pair set
    * and the same one-IEEE-division jaccard as [[verifySorted]].
    */
  private def jaccardBlockSweep(enc: DataFrame, nDocs: Long, tau: Double,
      s: SparkSession, sample: Option[(Long, Long)] = None): DataFrame = {
    import s.implicits._
    val (sMod, sKeep) = sample.getOrElse((0L, 0L))
    val sampled = sample.isDefined
    chunkPairFan(enc, nDocs).mapPartitions { it =>
      sweepGroups(it) { (a, b, out) =>
        val mn = math.min(a.n, b.n)
        val mx = math.max(a.n, b.n)
        // the budget keep rule is pure id arithmetic, decided BEFORE
        // the size gate and the merge — skipped pairs pay 2 ops
        if ((!sampled || (math.min(a.id, b.id) * 1000003L +
              math.max(a.id, b.id)) % sMod < sKeep) &&
            mx > 0 && mn.toDouble / mx.toDouble >= tau) {
          // jac ≥ τ ⟺ |A∩B| ≥ τ(|A|+|B|)/(1+τ): the merge abandons as
          // soon as the remainder can't reach it — dissimilar pairs
          // (the overwhelming majority) exit after ~10% of the scan.
          // Both the size gate and the bound are the LOSSLESS IEEE
          // forms (see losslessNeed) so exact-boundary pairs the join
          // form and the oracle emit survive the sweep too.
          val need = losslessNeed(tau, a.n + b.n)
          val i = mergeCountBounded(a.gs, b.gs, need)
          if (i >= 0) {
            val jac = i.toDouble / (a.n + b.n - i).toDouble
            if (jac >= tau) out +=
              ((math.min(a.id, b.id), math.max(a.id, b.id), jac))
          }
        }
      }
    }.toDF("ia", "ib", "jac")
  }

  /** [[jaccardBlockSweep]]'s containment sibling: gate is the minimum
    * set size (no lossless ratio gate exists for containment), the
    * emitted measure is the intersection count with both sizes, and
    * the τ cut (basis points against the smaller set) applies in-loop
    * so only survivors become rows.
    */
  private def containBlockSweep(enc: DataFrame, nDocs: Long, minSh: Int,
      tauBp: Long, s: SparkSession,
      sample: Option[(Long, Long)] = None): DataFrame = {
    import s.implicits._
    val (sMod, sKeep) = sample.getOrElse((0L, 0L))
    val sampled = sample.isDefined
    chunkPairFan(enc, nDocs).mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Int, Int)]
      sweepGroupsRaw(it) { (a, b) =>
        val mn = math.min(a.n, b.n)
        if ((!sampled || (math.min(a.id, b.id) * 1000003L +
              math.max(a.id, b.id)) % sMod < sKeep) &&
            mn >= minSh) {
          // C ≥ τ ⟺ |A∩B| ≥ ⌈τ·min⌉ (basis points): early-abandoned
          // like the jaccard sweep — non-contained pairs exit fast
          val need = ((tauBp * mn + 9999L) / 10000L).toInt
          val i = mergeCountBounded(a.gs, b.gs, need)
          if (i >= 0 && 10000L * i / mn >= tauBp) {
            val (x, y) = if (a.id < b.id) (a, b) else (b, a)
            out += ((x.id, x.n, y.id, i, y.n))
          }
        }
      }
      out.iterator
    }.toDF("ia", "na", "ib", "i", "nb")
  }

  private final case class SweepDoc(id: Long, gs: Array[Long], n: Int)

  /** Smallest intersection count whose IEEE jaccard `i/(s-i)` passes τ —
    * the LOSSLESS early-abandon bound for a pair with |A|+|B| = s. The
    * closed form `ceil(τ·s/(1+τ))` overshoots by 1 under IEEE rounding
    * exactly when the rational threshold is an integer (τ=0.8, s=63:
    * `0.8*63/1.8` evaluates to 28.000000000000004, so ceil gives 29 —
    * but 28/35 = 0.8 ≥ τ passes the final filter, and the join form and
    * the DuckDB oracle both emit that pair; every s divisible by 9 at
    * τ=0.8 is exposed). i ↦ IEEE(i/(s-i)) is monotone (numerator grows,
    * denominator shrinks, and double rounding preserves ≤), so a local
    * search from the closed-form estimate is exact; it moves at most one
    * step in practice.
    */
  private[graft] def losslessNeed(tau: Double, s: Int): Int = {
    var t = math.ceil(tau * s / (1 + tau)).toInt
    if (t < 0) t = 0
    if (t > s) t = s
    while (t > 0 && (t - 1).toDouble / (s - (t - 1)).toDouble >= tau) t -= 1
    while (t < s && t.toDouble / (s - t).toDouble < tau) t += 1
    t
  }

  /** Smallest intersection count that lets a doc of size `n` pass the
    * final IEEE `jac ≥ τ` filter against SOME partner (best case is a
    * partner of size i — union = n, jac = IEEE(i/n)). The lossless
    * per-doc bound behind the prefix length: same IEEE-boundary hazard
    * as [[losslessNeed]], same monotone local search.
    */
  private[graft] def minNeedJac(tau: Double, n: Int): Int = {
    var t = math.ceil(tau * n).toInt
    if (t < 0) t = 0
    if (t > n) t = n
    while (t > 0 && (t - 1).toDouble / n.toDouble >= tau) t -= 1
    while (t < n && t.toDouble / n.toDouble < tau) t += 1
    t
  }

  /** Sorted-merge intersection count with EARLY ABANDON: returns −1 the
    * moment `count + min(remaining)` can no longer reach `need` (the
    * caller's lossless threshold), the exact count otherwise. The
    * advancement is branch-reduced (conditional increments, no
    * three-way branch) — merge misprediction was the measured cost of
    * the block sweeps' first version.
    */
  private[graft] def mergeCountBounded(a: Array[Long], b: Array[Long],
      need: Int): Int = {
    val (la, lb) = (a.length, b.length)
    var i = 0
    var j = 0
    var c = 0
    while (i < la && j < lb) {
      if (c + math.min(la - i, lb - j) < need) return -1
      val x = a(i)
      val y = b(j)
      if (x == y) c += 1
      if (x <= y) i += 1
      if (y <= x) j += 1
    }
    c
  }

  /** Group-flush skeleton over [[chunkPairFan]]'s sorted partitions:
    * buffers one (lo, hi) group's two chunk sides, runs `pair` on the
    * cross product (triangle when lo == hi), accumulating into a
    * buffer the caller owns via the closure.
    */
  private def sweepGroupsRaw(it: Iterator[org.apache.spark.sql.Row])(
      pair: (SweepDoc, SweepDoc) => Unit): Unit = {
    var key: (Int, Int) = null
    val loBuf = scala.collection.mutable.ArrayBuffer.empty[SweepDoc]
    val hiBuf = scala.collection.mutable.ArrayBuffer.empty[SweepDoc]
    def flush(): Unit = if (key != null) {
      val triangle = key._1 == key._2
      var i = 0
      while (i < loBuf.length) {
        var j = if (triangle) i + 1 else 0
        val other = if (triangle) loBuf else hiBuf
        while (j < other.length) {
          pair(loBuf(i), other(j))
          j += 1
        }
        i += 1
      }
      loBuf.clear(); hiBuf.clear()
    }
    it.foreach { row =>
      val k = (row.getInt(0), row.getInt(1))
      if (k != key) { flush(); key = k }
      val d = SweepDoc(row.getLong(3), row.getSeq[Long](4).toArray,
        row.getInt(5))
      if (row.getInt(2) == key._1) loBuf += d else hiBuf += d
    }
    flush()
  }

  private def sweepGroups(it: Iterator[org.apache.spark.sql.Row])(
      pair: (SweepDoc, SweepDoc,
        scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]) => Unit)
      : Iterator[(Long, Long, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    sweepGroupsRaw(it)((a, b) => pair(a, b, out))
    out.iterator
  }

  /** Exact n-gram Jaccard near-dup pairs, representation-adaptive.
    *
    * A naive inverted-index self-join explodes on frequent shingles (a
    * shingle present in every doc alone contributes |docs|²/2 pairs — at
    * 100 TB it is fatal), so the candidate scheme must match the measured
    * shingle distribution:
    *
    *  - **Small vocabulary** (dictionary fits [[MaxBitsetVocab]] bits):
    *    frequency-based prefix filtering is provably useless — every
    *    shingle is frequent; on this corpus the PPJoin prefix prunes <7%
    *    of doc pairs while paying inverted-index join + distinct on tens
    *    of millions of candidate rows. Take the pair scan head-on instead:
    *    dictionary bitsets under the lossless size filter
    *    min(|A|,|B|) ≥ ⌈τ·max(|A|,|B|)⌉, AND+popcount per surviving pair
    *    (~6 word ops on 48 B), one broadcast, zero shuffles.
    *  - **Large vocabulary** (natural text, Zipfian df): PPJoin prefix
    *    filtering — any pair with jaccard ≥ τ must share one of each doc's
    *    |A| − ⌈τ·|A|⌉ + 1 globally-rarest shingles, so the self-join runs
    *    prefix×prefix and exact verification touches candidates only.
    *
    * Both paths produce the identical exact result. The exact operator is
    * inherently Ω(qualifying pairs); the corpus-scale sub-quadratic route
    * is MinHash LSH ([[dMinhashLsh]]), which reuses this verification.
    */
  def dJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir, 0.8)

  /** The (ia, ib, jac) near-dup pair set of [[dJaccard]] — also the edge
    * set for [[dCluster]]'s connected components. Eagerly materialized
    * (localCheckpoint) so the corpus-wide shingle cache behind it can be
    * released here instead of leaking for the session lifetime.
    */
  def jaccardPairs(s: SparkSession, dir: String, tau: Double,
      docBound: Option[Long] = None): DataFrame = {
    val (pairs, base) = jaccardPairsWithBase(s, dir, tau, docBound)
    finishReleasing(pairs, base)
  }

  /** [[jaccardPairs]] plus the cached shingle projection backing it, so
    * callers that materialize the pairs can `unpersist` the projection.
    * Package-visible: specs inspect the pre-checkpoint plan here.
    * `docBound` restricts the corpus to `doc_id < bound` BEFORE
    * shingling: jaccard of a pair depends only on its two documents, so
    * a caller that consumes pairs within a planted slice (m6) must not
    * pay the corpus-wide scan just to filter the answer afterwards —
    * at the 10× probe that filter-after was the whole 40 s.
    */
  private[graft] def jaccardPairsWithBase(s: SparkSession, dir: String,
      tau: Double, docBound: Option[Long] = None): (DataFrame, DataFrame) = {
    graft.expressions.LongArrayOps.register(s)
    // Shingles as sorted packed longs (injective ⇒ identical intersection
    // counts to the oracle's string sets) — one UDF pass per doc, and all
    // joins/verification run on primitive longs instead of strings.
    // Cached: the vocabulary build and the encode/scan are separate jobs,
    // and without the cache each re-runs the shingle UDF over the corpus.
    def bounded(df: DataFrame): DataFrame =
      docBound.fold(df)(b => df.filter(col("doc_id") < b))
    val base = bounded(Tables.documents(s, dir))
      .select(col("doc_id"), shinglesPacked3(col("text")).as("gs"))
      .cache()
    val pairs = vocabOf(base) match {
      case Some(vocab) =>
        val par = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        // corpus-size gate for the scan's broadcast — a parquet-metadata
        // count on the source table (running count() on `base` instead
        // would force the shingle UDF over the corpus just to count rows)
        val nDocs = bounded(Tables.documents(s, dir)).count()
        // the dense route's verification volume IS all pairs (the size
        // gate is ~ns but n² of them): budget-guard on that
        requireUnderBudget(s, nDocs * math.max(nDocs - 1, 0L) / 2,
          "dJaccard[bitset]")
        // unsorted: every caller sorts after materializing (finishReleasing)
        bitsetPairScan(encodeBitsets(base, vocab, par), tau, nDocs, s,
            bytesPerDoc = ((vocab.length + 63) / 64) * 8L + 28L)
          .select(col("ia"), col("ib"), col("jac"))
      case None => jaccardPPJoin(base, tau)
    }
    (pairs, base)
  }

  /** The prefix-filtered (PPJoin) candidate path for large vocabularies —
    * see [[dJaccard]] for when each path applies. Guarded by a prefix
    * census: when the estimated candidate volume explodes past
    * [[sweepCandRatio]] × allPairs (a Zipf-headed short-doc corpus
    * defeats prefix filtering — the heaps octave measured 29% of all
    * pairs as candidates, and the join form died in sort spill), the
    * operator drops the index and runs [[jaccardBlockSweep]] instead —
    * same pair set, candidate-machinery-free.
    */
  private def jaccardPPJoin(base: DataFrame, tau: Double): DataFrame = {
    val s = base.sparkSession
    val sh = base.select(col("doc_id"), size(col("gs")).as("n"),
      explode(col("gs")).as("g"))
    val freq = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefix = sh.join(freq, Seq("g"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("g"))))
      .filter(col("rn") <= col("n") -
        udf((n: Int) => minNeedJac(tau, n)).apply(col("n")) + 1)
      .select(col("doc_id"), col("g"), col("n"))
    // census before committing to the index route: one aggregate over
    // the prefix rows (re-derived by the healthy route's join — cheap
    // relative to either verification, and caching it here would leak
    // past the return)
    val candEst = Option(prefix.groupBy(col("g"))
      .agg(count(lit(1)).as("k"))
      .agg(sum(col("k") * (col("k") - 1))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L) / 2
    val nDocs = base.count()
    val allPairs = math.max(nDocs.toDouble * (nDocs - 1) / 2, 1.0)
    // the candidate estimate guards BOTH routes: over the budget the
    // exact pair list has no affordable route and refuses
    requireUnderBudget(s, candEst, "dJaccard")
    if (candEst >= sweepCandRatio(s) * allPairs)
      jaccardBlockSweep(
        base.select(col("doc_id"), col("gs"), size(col("gs")).as("n")),
        nDocs, tau, s)
    else {
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.g") === col("b.g") &&
            col("a.doc_id") < col("b.doc_id") &&
            least(col("a.n"), col("b.n")).cast("double") /
              greatest(col("a.n"), col("b.n")) >= lit(tau))
        .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
        .distinct()
      verifySorted(cand, base, tau)
    }
  }

  val dJaccardOracle: String =
    """WITH s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT ia, ib, CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) AS jac
      |FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.8
      |ORDER BY ia, ib""".stripMargin

  /** Near-dup CLUSTERING: connected components over the jaccard ≥ τ pair
    * graph, electing the min doc_id of each component as its keeper — the
    * step that turns pairwise near-dup detection into an actual dedup
    * decision (one representative per duplicate cluster).
    *
    * Components by distributed min-label propagation with pointer
    * jumping: every node starts labeled with itself; each round, a node
    * adopts the minimum label among itself and its neighbors, then
    * shortcuts to its label's label (path doubling). Plain propagation
    * needs diameter rounds — measured ~10 on this corpus's similarity
    * chains — while the shortcut converges in O(log diameter). Stop when
    * a round changes nothing. `localCheckpoint` truncates the growing
    * lineage each round (the iterative-algorithm idiom; without it,
    * round N replays rounds 1..N-1). At 100 TB the edge list is the small
    * side (pairs that actually matched), so each round is a shuffle of
    * labels, not corpus.
    */
  def dCluster(s: SparkSession, dir: String): DataFrame = {
    val labels = componentLabels(nearDupEdges(s, dir))
    labels.groupBy(col("label").as("keeper"))
      .agg(count(lit(1)).as("n_docs"), sum(col("id")).as("checksum"))
      .orderBy(col("keeper"))
  }

  /** The symmetrized jaccard ≥ 0.8 edge list, eagerly materialized
    * (localCheckpoint) so the corpus-wide shingle cache behind it is
    * released before any iterative consumer starts.
    */
  private def nearDupEdges(s: SparkSession, dir: String): DataFrame = {
    val (rawPairs, base) = jaccardPairsWithBase(s, dir, 0.8)
    val pairs = rawPairs.select(col("ia"), col("ib")).staged()
    base.unpersist()
    pairs.select(col("ia").as("u"), col("ib").as("v"))
      .unionByName(pairs.select(col("ib").as("u"), col("ia").as("v")))
  }

  /** Connected-component labels (id → component-min label) of a
    * symmetric edge list, by min-label propagation with pointer jumping
    * — see [[dCluster]] for the algorithm notes. Shared by the cluster
    * census and the canonical-member election.
    */
  private[queries] def componentLabels(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("label")).staged()
    var changed = 1L
    var rounds = 0
    // Rounds needed = component diameter. Converge-or-fail: silently
    // returning a non-converged labeling would split long similarity
    // chains into wrong clusters, so a (generous) cap raises instead.
    val maxRounds = 256
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("label").as("vl")), Seq("v"))
        .groupBy(col("u")).agg(min(col("vl")).as("nl"))
      // carry the previous label through the round so convergence checks
      // read it off the same frame — no extra join-back per round
      val propagated = labels
        .join(nbrMin.select(col("u").as("id"), col("nl")), Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // pointer jumping: adopt the label of my label — halves the
      // remaining path to the component minimum every round
      val next = propagated
        .join(propagated.select(col("id").as("label"),
          col("label").as("ll")), Seq("label"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .staged()
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("id"), col("label"))
      rounds += 1
    }
    require(changed == 0,
      s"label propagation did not converge in $maxRounds rounds")
    if (sys.env.contains("GRAFT_DEBUG_ROUNDS"))
      System.err.println(s"[componentLabels] converged in $rounds rounds")
    labels
  }

  /** Canonical-member election — the curation decision [[dCluster]]'s
    * census feeds: within every near-dup cluster KEEP THE LONGEST member
    * (n_chars, doc_id tiebreak), not the lowest id — the heuristic real
    * pipelines use because truncated/boilerplate variants are usually the
    * shorter ones. Docs outside every cluster keep themselves. Output is
    * the per-language keep/drop census with id checksums, i.e. exactly
    * the decision table a filter stage applies.
    *
    * Scale shape: the label table (near-dup docs only — corpus-small) is
    * an equi-join against the corpus, NOT a broadcast (at 100 TB the
    * near-dup set can be a large fraction); election is one window rank
    * per cluster; the census map-side-combines to #languages rows.
    */
  def d15Canonical(s: SparkSession, dir: String): DataFrame = {
    val labels = componentLabels(nearDupEdges(s, dir))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        coalesce(col("label"), col("doc_id")).as("cluster"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") === 1, col("doc_id")).otherwise(0L))
          .as("kept_checksum"),
        sum(when(col("rn") =!= 1, col("doc_id")).otherwise(0L))
          .as("dropped_checksum"))
      .orderBy(col("lang"))
  }

  val d15Oracle: String =
    """WITH RECURSIVE s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT ia, ib FROM inter
      |  JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.8),
      |edges AS (SELECT ia u, ib v FROM pairs
      |  UNION ALL SELECT ib, ia FROM pairs),
      |nodes AS (SELECT DISTINCT u FROM edges),
      |reach AS (
      |  SELECT u, u AS lbl FROM nodes
      |  UNION
      |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
      |comp AS (SELECT u, MIN(lbl) AS keeper FROM reach GROUP BY u),
      |cl AS (SELECT d.doc_id, d.lang, d.n_chars,
      |    COALESCE(comp.keeper, d.doc_id) AS cluster
      |  FROM documents d LEFT JOIN comp ON comp.u = d.doc_id),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
      |    ORDER BY n_chars DESC, doc_id) rn FROM cl)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn = 1 THEN doc_id ELSE 0 END) AS BIGINT)
      |    AS kept_checksum,
      |  CAST(SUM(CASE WHEN rn <> 1 THEN doc_id ELSE 0 END) AS BIGINT)
      |    AS dropped_checksum
      |FROM rk GROUP BY lang ORDER BY lang""".stripMargin

  val dClusterOracle: String =
    """WITH RECURSIVE s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT ia, ib FROM inter
      |  JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.8),
      |edges AS (SELECT ia u, ib v FROM pairs
      |  UNION ALL SELECT ib, ia FROM pairs),
      |nodes AS (SELECT DISTINCT u FROM edges),
      |reach AS (
      |  SELECT u, u AS lbl FROM nodes
      |  UNION
      |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
      |comp AS (SELECT u, MIN(lbl) AS keeper FROM reach GROUP BY u)
      |SELECT keeper, COUNT(*) AS n_docs, CAST(SUM(u) AS BIGINT) AS checksum
      |FROM comp GROUP BY keeper ORDER BY keeper""".stripMargin

  /** MinHash (k=16) + LSH (4 bands × 4 rows) near-dup detection — the shape
    * that survives 100 TB: signature is O(k·|shingles|) per doc, candidates
    * come from a self-join on (band, signature) — shuffle volume is
    * docs×bands, never docs² — and only candidates pay the exact-jaccard
    * verification.
    *
    * Banded LSH has a measurable failure mode: on a small-universe corpus
    * with skewed shingle frequencies, each fixed permutation's argmin tends
    * to be a shingle most documents contain, so the 16 minhashes collapse
    * onto a few values and band buckets engulf most of the corpus (here: a
    * 75%-of-docs bucket in every band; candidate volume 2.4× ALL pairs,
    * before dedup). The operator measures bucket volume first — one tiny
    * aggregate over docs×bands rows — and when candidates ≥ half of
    * all-pairs it switches to the bitset pair scan with a band-agreement
    * post-filter: identical output (pair in output ⟺ jaccard ≥ τ AND
    * shares ≥1 band bucket), none of the candidate blow-up. Healthy-LSH
    * corpora never hit the fallback.
    */
  def dMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val tau = 0.8
    // Signature in one primitive pass per doc (minhash16). Candidates
    // travel as bare id pairs; the per-doc set representations join back
    // in only for verification — at 100 TB you never shuffle payloads
    // with the LSH keys. Verification is representation-adaptive like
    // dJaccard: dictionary bitsets when the vocabulary is small, sorted
    // packed-long merges otherwise.
    val docs = Tables.documents(s, dir)
    // Cached: bucket stats, vocabulary, and the verification scan are
    // separate jobs over the same shingle/signature projections.
    val base = docs.select(col("doc_id"),
      shinglesPacked3(col("text")).as("gs"),
      minhash16(col("text")).as("mh"))
      .cache()
    val bands = base.select(col("doc_id"),
      posexplode(bandSignatures(col("mh"), 4, 4)).as(Seq("band", "sig")))
    // Decision stats: each a narrow one-pass aggregate (docs is counted
    // without running the shingle/minhash projections). The bucket
    // census is only consulted on the dictionary route — the bucket
    // sweep is degeneracy-robust, so the big-vocab path skips the pass.
    val nDocs = docs.count()
    val vocabOpt = vocabOf(base)
    // sum() over an empty corpus aggregates to null, not 0
    def bucketPairs: Long = Option(bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("k"))
      .agg(sum(col("k") * (col("k") - 1))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L) / 2
    // compared in double: n(n-1)/2 overflows Long past ~4.3e9 docs, which
    // would silently force the quadratic path at exactly the wrong scale
    val allPairs = math.max(nDocs.toDouble * (nDocs - 1) / 2, 1.0)
    if (vocabOpt.isDefined && bucketPairs >= allPairs / 2) {
      val vocab = vocabOpt.get
      // Degenerate buckets: the SAME bitset pair scan as dJaccard, with
      // the band signatures carried for the agreement post-filter. jac ≥ τ
      // is the selective predicate (a few thousand survivors of millions
      // of pairs); band agreement barely prunes here (the degenerate
      // buckets cover ~90% of pairs), so it runs last, as four direct
      // element comparisons — no per-pair array materialization.
      val par = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      val enc = base.repartition(par).select(col("doc_id"),
        bitsetUdf(vocab)(col("gs")).as("bits"), size(col("gs")).as("n"),
        bandSignatures(col("mh"), 4, 4).as("sigs"))
      val raw = jacPairScanBandAgree(enc, tau, nDocs, s,
        bytesPerDoc = ((vocab.length + 63) / 64) * 8L + 60L)
      finishReleasing(raw, base)
    } else vocabOpt match {
      case Some(vocab) =>
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") &&
              col("a.sig") === col("b.sig") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
          .distinct()
        val par = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        finishReleasing(verifyBitset(cand,
          encodeBitsets(base, vocab, par), tau), base)
      case None =>
        // big vocabulary: the bucket-local sweep — candidates are
        // generated, gated, and verified inside their (band, sig)
        // chunk groups; the payload shuffle is docs×bands, never
        // candidates (see [[bandedBucketSweep]] for the 10× cliff
        // the join form hit here)
        finishReleasing(bandedBucketSweep(base, tau, s), base)
    }
  }

  /** Near-CONTAINMENT pairs — the asymmetric overlap question jaccard
    * can't ask: is the smaller document essentially quoted inside the
    * larger one? C(A,B) = |A∩B| / min(|A|,|B|) ≥ τ catches a short doc
    * embedded in a long one at ANY size ratio, exactly the pair whose
    * jaccard is tiny — so resemblance-LSH (d3) structurally misses it
    * and a containment detector needs its own candidate scheme.
    * Representation-adaptive like [[dJaccard]]:
    *
    *  - **Small vocabulary** (bitset dictionary fits): no lossless
    *    size filter exists for containment (a 10-shingle doc can be
    *    fully contained in a 10k-shingle one), so the pair scan runs
    *    the full AND+popcount sweep — broadcast under the doc cap,
    *    blocked equi-join above it ([[bitsetPairScanBlocked]]'s shape
    *    minus the jaccard-only filters).
    *  - **Large vocabulary** (Zipfian text): prefix-filtered overlap
    *    join, rarest-first — if C(A,B) ≥ τ with A smaller, B misses at
    *    most (1−τ)·|A| of A's shingles, so one of A's (1−τ)·|A|+1
    *    globally-rarest shingles MUST appear in B (lossless); each doc
    *    emits that prefix against the full inverted index, candidate
    *    volume ∝ Σ_prefix df(g) — small when prefixes are rare —
    *    and a sorted-merge intersection verifies exactly.
    *
    * Both routes are EXACT, so one oracle covers either. Output is the
    * per-band census (pairs are O(n²) in the worst case; the census is
    * bands-sized), with id-sum checksums pinning the exact pair set.
    */
  def dContainment(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val tau = 0.9
    val minSh = 30
    val docs = Tables.documents(s, dir)
    val base = docs.select(col("doc_id"),
      shinglesPacked3(col("text")).as("gs")).cache()
    val nDocs = docs.count()
    val scored = vocabOf(base) match {
      case Some(vocab) =>
        requireUnderBudget(s, nDocs * math.max(nDocs - 1, 0L) / 2,
          "dContainment[bitset]")
        val par = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
        val enc = encodeBitsets(base, vocab, par)
        val cap = maxBroadcastDocs(s,
          bytesPerDoc = ((vocab.length + 63) / 64) * 8L + 28L)
        if (nDocs <= cap)
          containmentPairScanFused(enc, minSh, (tau * 10000).toLong, s)
        else {
          val blocks = math.max(2L,
            math.min(1024L, (nDocs + cap - 1) / cap)).toInt
          def side(x: String) = enc
            .withColumn("blk", pmod(hash(col("doc_id")), lit(blocks)))
            .withColumn("ob", explode(sequence(lit(0), lit(blocks - 1))))
            .select(least(col("blk"), col("ob")).as("lo"),
              greatest(col("blk"), col("ob")).as("hi"),
              col("blk").as("blk" + x), col("doc_id").as("i" + x),
              col("bits").as("b" + x), col("n").as("n" + x))
          side("a").join(side("b"), Seq("lo", "hi"))
            .filter((col("blka") =!= col("blkb") ||
                col("lo") === col("hi")) &&
              col("ia") < col("ib") &&
              least(col("na"), col("nb")) >= minSh)
            .withColumn("i", intersectBits(col("ba"), col("bb")))
            .select(col("ia"), col("na"), col("ib"), col("i"), col("nb"))
        }
      case None =>
        val ex = base.select(col("doc_id"), explode(col("gs")).as("g"))
        val gdf = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
        val pref = ex.join(gdf, Seq("g"))
          .withColumn("rk", row_number().over(w))
          .join(base.select(col("doc_id"), size(col("gs")).as("n")),
            Seq("doc_id"))
          // the final cut is exact integer basis points, so the
          // lossless per-doc bound is exact integer ceil too — the
          // IEEE ceil(τ·n) form can overshoot an integer boundary
          // and leave the prefix one token short
          .filter(col("rk") <= col("n") -
            floor((lit((tau * 10000).toLong) * col("n") + lit(9999L)) /
              lit(10000L)) + 1)
          .select(col("doc_id"), col("g"))
        // census before committing to the index route: containment's
        // candidate volume is Σ_prefix df(g) against the FULL index —
        // on a Zipf-headed corpus it explodes past all-pairs and the
        // per-candidate join machinery dies in sort spill (the heaps
        // octave's finding); past the ratio the blocked sweep is
        // strictly cheaper
        val candEst = Option(pref.join(gdf, Seq("g"))
          .agg(sum(col("df"))).first().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val allPairs = math.max(nDocs.toDouble * (nDocs - 1) / 2, 1.0)
        requireUnderBudget(s, candEst, "dContainment")
        if (candEst >= sweepCandRatio(s) * allPairs)
          containBlockSweep(
            base.select(col("doc_id"), col("gs"),
              size(col("gs")).as("n")),
            nDocs, minSh, (tau * 10000).toLong, s)
        else {
          val cand = pref.as("a")
            .join(ex.as("b"), col("a.g") === col("b.g") &&
              col("a.doc_id") =!= col("b.doc_id"))
            .select(least(col("a.doc_id"), col("b.doc_id")).as("ia"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("ib"))
            .distinct()
          cand
            .join(base.select(col("doc_id").as("ia"), col("gs").as("ga")),
              Seq("ia"))
            .join(base.select(col("doc_id").as("ib"), col("gs").as("gb")),
              Seq("ib"))
            .withColumn("na", size(col("ga")))
            .withColumn("nb", size(col("gb")))
            .filter(least(col("na"), col("nb")) >= minSh)
            .withColumn("i", intersectSortedCount(col("ga"), col("gb")))
        }
    }
    val census = scored
      .withColumn("bp",
        expr("(CAST(10000 AS BIGINT) * i) div least(na, nb)"))
      .filter(col("bp") >= (tau * 10000).toLong)
      .groupBy(expr("bp div 1000").as("band"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("ia")).as("sum_ia"),
        sum(col("ib")).as("sum_ib"))
      .staged()
    base.unpersist()
    census.orderBy(col("band"))
  }

  val dContainmentOracle: String =
    """WITH s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |c AS (SELECT ia, ib, (10000 * i) // LEAST(x.n, y.n) AS bp
      |  FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE LEAST(x.n, y.n) >= 30)
      |SELECT bp // 1000 AS band, COUNT(*) AS n_pairs,
      |  CAST(SUM(ia) AS BIGINT) AS sum_ia,
      |  CAST(SUM(ib) AS BIGINT) AS sum_ib
      |FROM c WHERE bp >= 9000 GROUP BY 1 ORDER BY band""".stripMargin

  /** Budget-escaped near-dup CENSUS — the answer for the corner the
    * exact pair operators now REFUSE ([[requireUnderBudget]]): a
    * template-heavy or adversarial corpus whose qualifying-candidate
    * volume is quadratic by construction has no sub-quadratic exact
    * route, so a 100 TB run needs a budget, not a proof. This form
    * applies d20's deterministic id-arithmetic keep rule
    * (`(min·1000003 + max) mod 8r < 8`, r = 1 in r kept) INSIDE the
    * block sweep, decided before the size gate and the merge — skipped
    * pairs pay two integer ops, so sweep verification cost is
    * ∝ pairs/r, and with the derived rate r = ⌈allPairs/budget⌉
    * wall-time is ∝ budget instead of ∝ corpus². Output is the
    * per-band jaccard census with the RAW sampled counts, the
    * 1/r-scaled estimate, and the rate stamped on every row (a census
    * that hides that it sampled is a lie); the band −1 rollup row is
    * the always-present total. Under budget (or no budget) r = 1 and
    * the census is exact with the same schema. The id rule is pure
    * arithmetic, so the oracle replays the SAME sample — the gate pins
    * r = 8 via `candSampleRate` to keep the modulus static in SQL.
    */
  def dJaccardCensusBudget(s: SparkSession, dir: String,
      tau: Double): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val docs = Tables.documents(s, dir)
    val nDocs = docs.count()
    val plan = budgetSample(s, nDocs, "dJaccardCensusBudget")
    // the doc rule applies BEFORE the shingle UDF, so even the linear
    // scan term divides by q — at 100 TB that is the difference
    // between "census costs a corpus pass" and "census costs 1/q of
    // one"
    val base = plan.docFiltered(docs).select(col("doc_id"),
      shinglesPacked3(col("text")).as("gs")).cache()
    val pairs = jaccardBlockSweep(
      base.select(col("doc_id"), col("gs"), size(col("gs")).as("n")),
      plan.sweepDocs(nDocs), tau, s, plan.pairSample)
    val r = plan.rate
    val census = pairs
      .withColumn("bp", floor(col("jac") * lit(10000.0)))
      .rollup(expr("bp div 1000").as("band"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("ia")).as("sum_ia"),
        sum(col("ib")).as("sum_ib"))
      .select(coalesce(col("band"), lit(-1L)).as("band"),
        lit(r).as("rate"), col("n_sampled"),
        (col("n_sampled") * lit(r)).as("n_est"),
        col("sum_ia"), col("sum_ib"))
      .staged()
    base.unpersist()
    census.orderBy(col("band"))
  }

  /** [[dJaccardCensusBudget]]'s containment sibling — same budget
    * rung, same keep rule, [[containBlockSweep]] underneath, d19's
    * integer basis-point banding (no IEEE ops at all on this side).
    */
  def dContainmentCensusBudget(s: SparkSession, dir: String,
      tau: Double, minSh: Int): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val docs = Tables.documents(s, dir)
    val nDocs = docs.count()
    val plan = budgetSample(s, nDocs, "dContainmentCensusBudget")
    val base = plan.docFiltered(docs).select(col("doc_id"),
      shinglesPacked3(col("text")).as("gs")).cache()
    val scored = containBlockSweep(
      base.select(col("doc_id"), col("gs"), size(col("gs")).as("n")),
      plan.sweepDocs(nDocs), minSh, (tau * 10000).toLong, s,
      plan.pairSample)
    val r = plan.rate
    val census = scored
      .withColumn("bp",
        expr("(CAST(10000 AS BIGINT) * i) div least(na, nb)"))
      .rollup(expr("bp div 1000").as("band"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("ia")).as("sum_ia"),
        sum(col("ib")).as("sum_ib"))
      .select(coalesce(col("band"), lit(-1L)).as("band"),
        lit(r).as("rate"), col("n_sampled"),
        (col("n_sampled") * lit(r)).as("n_est"),
        col("sum_ia"), col("sum_ib"))
      .staged()
    base.unpersist()
    census.orderBy(col("band"))
  }

  /** The budget decision shared by the census forms. Under budget (or
    * no budget): exact, rate 1. Over budget, TWO rungs:
    *
    *  - **pair rule** (when `candSampleRate` forces a rate — the gates
    *    pin 8 so the oracle's modulus is static): d20's
    *    `(min·1000003 + max) mod 8r < 8` decided per pair inside the
    *    sweep. Verification cost drops to pairs/r, but the sweep still
    *    ENUMERATES every pair (~ns each) and the fan still ships every
    *    doc — an n² floor survives.
    *  - **doc rule** (auto): keep docs with
    *    `(doc_id·1000003) mod 8q < 8` (1-in-q), q = ⌈√(pairs/budget)⌉,
    *    applied BEFORE shingling — pair volume among survivors is
    *    ≤ budget, and scan, fan, enumeration, and merges ALL divide by
    *    q or q²: wall-time ∝ budget + 1/q of the corpus scan. The
    *    100 TB rung. Census scale is q² (a pair survives iff both ends
    *    do).
    *
    * Route choice is logged — it changes what the numbers MEAN.
    */
  private[graft] def budgetSample(s: SparkSession, nDocs: Long,
      op: String): BudgetPlan = {
    val volume = nDocs * math.max(nDocs - 1, 0L) / 2
    val budget = candBudget(s)
    if (budget <= 0L || volume <= budget) BudgetPlan(1L, None, None)
    else {
      val forcedPair = candSampleRate(s)
      if (forcedPair > 0L) {
        System.err.println(s"[$op] budget escape (pair rule): " +
          s"volume=$volume budget=$budget rate=1/$forcedPair")
        BudgetPlan(forcedPair, Some((8L * forcedPair, 8L)), None)
      } else {
        val forcedDoc =
          s.conf.get("spark.graft.dedup.candDocSampleRate", "0").toLong
        val q = if (forcedDoc > 0L) forcedDoc
          else math.max(2L,
            math.ceil(math.sqrt(volume.toDouble / budget)).toLong)
        System.err.println(s"[$op] budget escape (doc rule): " +
          s"volume=$volume budget=$budget docRate=1/$q scale=${q * q}")
        BudgetPlan(q * q, None, Some((8L * q, 8L)))
      }
    }
  }

  /** rate = what the sampled census scales by; pairSample = the in-
    * sweep pair rule; docSample = the pre-shingle doc rule.
    */
  private[graft] final case class BudgetPlan(rate: Long,
      pairSample: Option[(Long, Long)], docSample: Option[(Long, Long)]) {
    def docFiltered(docs: DataFrame): DataFrame = docSample match {
      case Some((m, k)) =>
        docs.filter(pmod(col("doc_id") * 1000003L, lit(m)) < k)
      case None => docs
    }
    /** Survivor-count estimate for the sweep's chunk sizing (order of
      * magnitude is all it needs).
      */
    def sweepDocs(nDocs: Long): Long = docSample match {
      case Some((m, k)) => math.max(1L, nDocs * k / m)
      case None => nDocs
    }
  }

  /** d21 gate: [[dJaccardCensusBudget]] with the escape FORCED
    * (budget 1) at the PINNED d20 rate 8, τ = 0.5 — the oracle replays
    * the full pair join, the `mod 64 < 8` keep rule at verification,
    * and the scaled band census. The derived-rate arithmetic is
    * spec-covered ([[budgetRate]], `DedupBudgetSpec`).
    */
  def d21BudgetNeardup(s: SparkSession, dir: String): DataFrame =
    withConf(s, "spark.graft.dedup.candBudget" -> "1",
      "spark.graft.dedup.candSampleRate" -> "8")(
      dJaccardCensusBudget(s, dir, 0.5))

  /** d22 gate: [[dContainmentCensusBudget]] under the same forced
    * escape, d19's τ = 0.9 / minSh = 30 cut.
    */
  def d22BudgetContainment(s: SparkSession, dir: String): DataFrame =
    withConf(s, "spark.graft.dedup.candBudget" -> "1",
      "spark.graft.dedup.candSampleRate" -> "8")(
      dContainmentCensusBudget(s, dir, 0.9, 30))

  /** d23 gate: the DOC-rule rung — the 100 TB escape where even
    * enumerating pairs is over budget — with q PINNED at 8
    * (`candDocSampleRate`), so the oracle filters documents by
    * `(doc_id·1000003) mod 64 < 8` BEFORE shingling, joins only
    * survivors, and scales the band census by q² = 64. The derived-q
    * arithmetic and the cost claims are spec-covered
    * (`DedupBudgetSpec`).
    */
  def d23BudgetDocSample(s: SparkSession, dir: String): DataFrame =
    withConf(s, "spark.graft.dedup.candBudget" -> "1",
      "spark.graft.dedup.candDocSampleRate" -> "8")(
      dJaccardCensusBudget(s, dir, 0.5))

  /** d24/d25 gates: the census forms WITHOUT forced confs — exactly
    * what a production caller gets. With no budget set (the driver's
    * Verify), they are the EXACT band censuses (rate 1), which is what
    * the oracles replay; a probe run steers them through the budget
    * rungs with `SPARK_GRAFT_CONF=spark.graft.dedup.candBudget=…`
    * (auto doc rule, q derived) — the heaps-octave entry points.
    */
  def d24CensusJaccard(s: SparkSession, dir: String): DataFrame =
    dJaccardCensusBudget(s, dir, 0.5)

  def d25CensusContainment(s: SparkSession, dir: String): DataFrame =
    dContainmentCensusBudget(s, dir, 0.9, 30)

  /** Set confs for the duration of `body` (which must MATERIALIZE its
    * result — the census forms `.staged()` — before returning, or the
    * restore races the read), restoring previous values after.
    */
  private def withConf(s: SparkSession, kv: (String, String)*)(
      body: => DataFrame): DataFrame = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val d21Oracle: String =
    """WITH s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |-- d20's deterministic keep rule at rate 1/8, decided on ids
      |-- alone — the sample is identical on both engines, no RNG
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
      |  WHERE (a.doc_id * 1000003 + b.doc_id) % 64 < 8
      |  GROUP BY 1, 2),
      |j AS (SELECT ia, ib,
      |    CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) AS jac
      |  FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.5),
      |b AS (SELECT CAST(FLOOR(jac * 10000) AS BIGINT) // 1000 AS band,
      |    ia, ib FROM j)
      |SELECT COALESCE(band, -1) AS band, CAST(8 AS BIGINT) AS rate,
      |  COUNT(*) AS n_sampled, CAST(COUNT(*) * 8 AS BIGINT) AS n_est,
      |  CAST(SUM(ia) AS BIGINT) AS sum_ia,
      |  CAST(SUM(ib) AS BIGINT) AS sum_ib
      |FROM b GROUP BY ROLLUP(band) ORDER BY band""".stripMargin

  val d24Oracle: String =
    """WITH s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT ia, ib,
      |    CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) AS jac
      |  FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.5),
      |b AS (SELECT CAST(FLOOR(jac * 10000) AS BIGINT) // 1000 AS band,
      |    ia, ib FROM j)
      |SELECT COALESCE(band, -1) AS band, CAST(1 AS BIGINT) AS rate,
      |  COUNT(*) AS n_sampled, CAST(COUNT(*) AS BIGINT) AS n_est,
      |  CAST(SUM(ia) AS BIGINT) AS sum_ia,
      |  CAST(SUM(ib) AS BIGINT) AS sum_ib
      |FROM b GROUP BY ROLLUP(band) ORDER BY band""".stripMargin

  val d25Oracle: String =
    """WITH s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |c AS (SELECT ia, ib, (10000 * i) // LEAST(x.n, y.n) AS bp
      |  FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE LEAST(x.n, y.n) >= 30),
      |b AS (SELECT bp // 1000 AS band, ia, ib FROM c WHERE bp >= 9000)
      |SELECT COALESCE(band, -1) AS band, CAST(1 AS BIGINT) AS rate,
      |  COUNT(*) AS n_sampled, CAST(COUNT(*) AS BIGINT) AS n_est,
      |  CAST(SUM(ia) AS BIGINT) AS sum_ia,
      |  CAST(SUM(ib) AS BIGINT) AS sum_ib
      |FROM b GROUP BY ROLLUP(band) ORDER BY band""".stripMargin

  val d23Oracle: String =
    """WITH docs AS (SELECT * FROM documents
      |  WHERE (doc_id * 1000003) % 64 < 8),
      |s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM docs),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT ia, ib,
      |    CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) AS jac
      |  FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.5),
      |b AS (SELECT CAST(FLOOR(jac * 10000) AS BIGINT) // 1000 AS band,
      |    ia, ib FROM j)
      |SELECT COALESCE(band, -1) AS band, CAST(64 AS BIGINT) AS rate,
      |  COUNT(*) AS n_sampled, CAST(COUNT(*) * 64 AS BIGINT) AS n_est,
      |  CAST(SUM(ia) AS BIGINT) AS sum_ia,
      |  CAST(SUM(ib) AS BIGINT) AS sum_ib
      |FROM b GROUP BY ROLLUP(band) ORDER BY band""".stripMargin

  val d22Oracle: String =
    """WITH s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id
      |  WHERE (a.doc_id * 1000003 + b.doc_id) % 64 < 8
      |  GROUP BY 1, 2),
      |c AS (SELECT ia, ib, (10000 * i) // LEAST(x.n, y.n) AS bp
      |  FROM inter JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE LEAST(x.n, y.n) >= 30),
      |b AS (SELECT bp // 1000 AS band, ia, ib FROM c WHERE bp >= 9000)
      |SELECT COALESCE(band, -1) AS band, CAST(8 AS BIGINT) AS rate,
      |  COUNT(*) AS n_sampled, CAST(COUNT(*) * 8 AS BIGINT) AS n_est,
      |  CAST(SUM(ia) AS BIGINT) AS sum_ia,
      |  CAST(SUM(ib) AS BIGINT) AS sum_ib
      |FROM b GROUP BY ROLLUP(band) ORDER BY band""".stripMargin

  /** Materialize `pairs` eagerly (localCheckpoint), release the cached
    * corpus projection behind it, and return the pairs sorted — shared
    * cache-lifetime discipline for the pair queries (without it, each
    * query leaks its corpus-wide cached blocks for the session lifetime).
    */
  private def finishReleasing(pairs: DataFrame, base: DataFrame): DataFrame = {
    val snap = pairs.staged()
    base.unpersist()
    snap.orderBy(col("ia"), col("ib"))
  }

  val dMinhashOracle: String =
    """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS gs FROM documents),
      |hs AS (SELECT doc_id, gs, list_transform(gs, g ->
      |    ((CAST(ascii(substr(g,1,1)) AS BIGINT) * 31 + ascii(substr(g,2,1))) * 31
      |     + ascii(substr(g,3,1))) % 1000000007) AS hv FROM sh),
      |mh AS (SELECT doc_id, gs, list_transform(range(0, 16), i ->
      |    list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7*i+3) % 1000000007), 'min')) AS m
      |  FROM hs),
      |bands AS (SELECT doc_id, gs, CAST(b AS INT) AS band,
      |    list_aggregate(list_transform(m[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)],
      |      x -> CAST(x AS VARCHAR)), 'string_agg', ':') AS sig
      |  FROM mh, range(0, 4) r(b)),
      |cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib, a.gs ga, b.gs gb
      |  FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |ver AS (SELECT ia, ib, CAST(len(list_intersect(ga, gb)) AS DOUBLE)
      |    / CAST(len(ga) + len(gb) - len(list_intersect(ga, gb)) AS DOUBLE) AS jac
      |  FROM cand)
      |SELECT ia, ib, jac FROM ver WHERE jac >= 0.8 ORDER BY ia, ib""".stripMargin

  /** MinHash calibration census — the measurement that justifies trusting
    * the sketch before a 100 TB run: for a bounded probe set × the
    * corpus, bucket every pair by its ESTIMATED similarity (matching
    * minhash components, 0..16) and report the EXACT jaccard statistics
    * inside each bucket. The output is the estimator's confusion table —
    * how often est=k co-occurs with which true similarities — which is
    * what picks τ and the band/row split for a target recall.
    *
    * Engine-exactness: per-pair jaccard is one IEEE division floored to
    * basis points BEFORE any aggregation, so all sums are integer sums.
    * Scale shape: probes broadcast against the corpus stream (s1's
    * plan); signatures and packed shingle sets ride the one scan;
    * per-pair work is two primitive kernels (component match count +
    * sorted-merge intersection).
    */
  def d16MinhashCalib(s: SparkSession, dir: String): DataFrame =
    minhashCalibCensus(s, dir, sample = None)

  /** [[d16MinhashCalib]] under a DETERMINISTIC pair-sampling keep rule
    * — the 100 TB calibration shape: a confusion table doesn't need
    * every probe×corpus pair, it needs an unbiased sample whose census
    * scales back by 1/r. The keep rule is pure id arithmetic
    * (`(ia·1000003 + ib) mod 64 < 8`, r = 1/8), so (a) it is decided
    * BEFORE any per-pair work — skipped pairs never pay the component
    * match or the popcount, making the sweep cost ∝ r·pairs, the
    * sub-linear escape for the suite's steepest 30× grower — and (b)
    * the oracle replays the identical rule exactly, no RNG. Output
    * carries both the raw sampled counts and the 1/r-scaled estimate.
    */
  def d20SampledCalib(s: SparkSession, dir: String): DataFrame =
    minhashCalibCensus(s, dir, sample = Some((64L, 8L)))
      .select(col("est16"), col("n_pairs").as("n_sampled"),
        (col("n_pairs") * lit(8L)).as("n_est"),
        col("sum_jac_bp"), col("min_jac_bp"), col("max_jac_bp"))

  private def minhashCalibCensus(s: SparkSession, dir: String,
      sample: Option[(Long, Long)]): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    // (mod, keepBelow) — None keeps every pair; the rule must stay id-
    // only so both routes AND the oracle replay it identically
    val (sMod, sKeep) = sample.getOrElse((1L, 1L))
    val base = Tables.documents(s, dir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), shinglesPacked3(col("text")).as("gs"),
        minhash16(col("text")).as("mh"))
    vocabOf(base) match {
      case Some(vocab) =>
        // fused sweep under the dictionary cap: the 30 probes pack
        // (bitsets + sizes + 16 minhash components each) into one
        // broadcast, and every corpus row buckets its ≤30 pairs
        // LOCALLY (component-match count → est16, AND+popcount →
        // exact jaccard basis points) emitting per-bucket partials —
        // the 4.5M-pair probe×corpus product never materializes as
        // rows (the crossJoin form paid ~µs of row machinery plus an
        // interpreted zip_with per pair). Exact same statistics: the
        // bitset popcount IS the distinct-shingle intersection when
        // the dictionary fits, and jac_bp floors the identical IEEE
        // double chain.
        val rows = base.filter(col("doc_id") < 30)
          .select(col("doc_id"), bitsetUdf(vocab)(col("gs")).as("bits"),
            size(col("gs")).as("n"), col("mh"))
          .collect().sortBy(_.getLong(0))
        val m = rows.length
        val w = if (m == 0) 0 else rows(0).getSeq[Long](1).length
        val pIds = new Array[Long](m)
        val pNs = new Array[Int](m)
        val pBits = new Array[Long](m * w)
        val pMh = new Array[Long](m * 16)
        for (i <- 0 until m) {
          pIds(i) = rows(i).getLong(0)
          pNs(i) = rows(i).getInt(2)
          val b = rows(i).getSeq[Long](1)
          for (j <- 0 until w) pBits(i * w + j) = b(j)
          val h = rows(i).getSeq[Long](3)
          for (k <- 0 until 16) pMh(i * 16 + k) = h(k)
        }
        val bc = s.sparkContext.broadcast((pIds, pNs, pBits, pMh, w))
        val sweep = udf((id: Long, myBits: Seq[Long], myN: Int,
            myMh: Seq[Long]) => {
          val (ids, ns, bits, mhs, w) = bc.value
          val mb = myBits.toArray
          val mm = myMh.toArray
          val n = new Array[Long](17)
          val sum = new Array[Long](17)
          val mn = Array.fill(17)(Long.MaxValue)
          val mx = Array.fill(17)(Long.MinValue)
          var a = 0
          while (a < ids.length && ids(a) < id) {
            // sampling decides on ids alone, BEFORE any pair work
            if (sample.isEmpty ||
                (ids(a) * 1000003L + id) % sMod < sKeep) {
            var est = 0
            var k = 0
            while (k < 16) {
              if (mm(k) == mhs(a * 16 + k)) est += 1
              k += 1
            }
            var inter = 0L
            var j = 0
            val off = a * w
            while (j < w) {
              inter += java.lang.Long.bitCount(mb(j) & bits(off + j))
              j += 1
            }
            val na = ns(a)
            val bp = math.floor(
              inter.toDouble / (na + myN - inter).toDouble * 10000).toLong
            n(est) += 1
            sum(est) += bp
            if (bp < mn(est)) mn(est) = bp
            if (bp > mx(est)) mx(est) = bp
            }
            a += 1
          }
          (0 to 16).filter(n(_) > 0)
            .map(e => (e.toLong, n(e), sum(e), mn(e), mx(e)))
        })
        base.select(col("doc_id"), bitsetUdf(vocab)(col("gs")).as("bits"),
            size(col("gs")).as("n"), col("mh"))
          .select(explode(sweep(col("doc_id"), col("bits"), col("n"),
            col("mh"))).as("p"))
          .groupBy(col("p._1").as("est16"))
          .agg(sum(col("p._2")).as("n_pairs"),
            sum(col("p._3")).as("sum_jac_bp"),
            min(col("p._4")).as("min_jac_bp"),
            max(col("p._5")).as("max_jac_bp"))
          .orderBy(col("est16"))
      case None =>
        // big vocabulary: same fused one-broadcast sweep as the dense
        // route, on the SORTED-ARRAY representation — the crossJoin
        // form paid ~µs of row machinery plus an interpreted zip_with
        // per probe×corpus pair (90 s at the heaps 30× octave; the
        // sweep's 4.5M primitive merges are seconds). Calibration
        // needs the EXACT jaccard of every kept pair (it is the
        // bucketed value, not a threshold), so merges cannot
        // early-abandon — the sampling keep rule, decided on ids
        // alone, is the cost lever.
        val rows = base.filter(col("doc_id") < 30)
          .select(col("doc_id"), col("gs"), col("mh"))
          .collect().sortBy(_.getLong(0))
        val m = rows.length
        val pIds = new Array[Long](m)
        val pOff = new Array[Int](m + 1)
        val pMh = new Array[Long](m * 16)
        for (i <- 0 until m)
          pOff(i + 1) = pOff(i) + rows(i).getSeq[Long](1).length
        val pGs = new Array[Long](pOff(m))
        for (i <- 0 until m) {
          pIds(i) = rows(i).getLong(0)
          val g = rows(i).getSeq[Long](1)
          var j = 0
          while (j < g.length) { pGs(pOff(i) + j) = g(j); j += 1 }
          val h = rows(i).getSeq[Long](2)
          for (k <- 0 until 16) pMh(i * 16 + k) = h(k)
        }
        val bc = s.sparkContext.broadcast((pIds, pOff, pGs, pMh))
        val sweep = udf((id: Long, myGs: Seq[Long], myMh: Seq[Long]) => {
          val (ids, off, gsAll, mhs) = bc.value
          val mg = myGs.toArray
          val mm = myMh.toArray
          val n = new Array[Long](17)
          val sum = new Array[Long](17)
          val mn = Array.fill(17)(Long.MaxValue)
          val mx = Array.fill(17)(Long.MinValue)
          var a = 0
          while (a < ids.length && ids(a) < id) {
            if (sample.isEmpty ||
                (ids(a) * 1000003L + id) % sMod < sKeep) {
              var est = 0
              var k = 0
              while (k < 16) {
                if (mm(k) == mhs(a * 16 + k)) est += 1
                k += 1
              }
              var inter = 0
              var i = off(a)
              var j = 0
              val end = off(a + 1)
              while (i < end && j < mg.length) {
                val x = gsAll(i)
                val y = mg(j)
                if (x == y) inter += 1
                if (x <= y) i += 1
                if (y <= x) j += 1
              }
              val na = end - off(a)
              val bp = math.floor(inter.toDouble /
                (na + mg.length - inter).toDouble * 10000).toLong
              n(est) += 1
              sum(est) += bp
              if (bp < mn(est)) mn(est) = bp
              if (bp > mx(est)) mx(est) = bp
            }
            a += 1
          }
          (0 to 16).filter(n(_) > 0)
            .map(e => (e.toLong, n(e), sum(e), mn(e), mx(e)))
        })
        base.select(explode(sweep(col("doc_id"), col("gs"),
            col("mh"))).as("p"))
          .groupBy(col("p._1").as("est16"))
          .agg(sum(col("p._2")).as("n_pairs"),
            sum(col("p._3")).as("sum_jac_bp"),
            min(col("p._4")).as("min_jac_bp"),
            max(col("p._5")).as("max_jac_bp"))
          .orderBy(col("est16"))
    }
  }

  val d16Oracle: String =
    """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS gs FROM documents
      |  WHERE length(text) >= 3),
      |hs AS (SELECT doc_id, gs, list_transform(gs, g ->
      |    ((CAST(ascii(substr(g,1,1)) AS BIGINT) * 31 + ascii(substr(g,2,1))) * 31
      |     + ascii(substr(g,3,1))) % 1000000007) AS hv FROM sh),
      |mh AS (SELECT doc_id, gs, list_transform(range(0, 16), i ->
      |    list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7*i+3) % 1000000007), 'min')) AS m
      |  FROM hs),
      |pr AS (SELECT a.gs ga, b.gs gb, a.m ma, b.m mb
      |  FROM mh a JOIN mh b ON a.doc_id < 30 AND a.doc_id < b.doc_id),
      |calc AS (SELECT
      |    CAST(len(list_filter(range(1, 17),
      |      i -> ma[CAST(i AS INT)] = mb[CAST(i AS INT)])) AS BIGINT) AS est16,
      |    CAST(FLOOR(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
      |      / CAST(len(ga) + len(gb) - len(list_intersect(ga, gb)) AS DOUBLE)
      |      * 10000) AS BIGINT) AS jac_bp
      |  FROM pr)
      |SELECT est16, COUNT(*) AS n_pairs,
      |  CAST(SUM(jac_bp) AS BIGINT) AS sum_jac_bp,
      |  CAST(MIN(jac_bp) AS BIGINT) AS min_jac_bp,
      |  CAST(MAX(jac_bp) AS BIGINT) AS max_jac_bp
      |FROM calc GROUP BY est16 ORDER BY est16""".stripMargin

  val d20Oracle: String =
    """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS gs FROM documents
      |  WHERE length(text) >= 3),
      |hs AS (SELECT doc_id, gs, list_transform(gs, g ->
      |    ((CAST(ascii(substr(g,1,1)) AS BIGINT) * 31 + ascii(substr(g,2,1))) * 31
      |     + ascii(substr(g,3,1))) % 1000000007) AS hv FROM sh),
      |mh AS (SELECT doc_id, gs, list_transform(range(0, 16), i ->
      |    list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7*i+3) % 1000000007), 'min')) AS m
      |  FROM hs),
      |pr AS (SELECT a.gs ga, b.gs gb, a.m ma, b.m mb
      |  FROM mh a JOIN mh b ON a.doc_id < 30 AND a.doc_id < b.doc_id
      |  WHERE (a.doc_id * 1000003 + b.doc_id) % 64 < 8),
      |calc AS (SELECT
      |    CAST(len(list_filter(range(1, 17),
      |      i -> ma[CAST(i AS INT)] = mb[CAST(i AS INT)])) AS BIGINT) AS est16,
      |    CAST(FLOOR(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
      |      / CAST(len(ga) + len(gb) - len(list_intersect(ga, gb)) AS DOUBLE)
      |      * 10000) AS BIGINT) AS jac_bp
      |  FROM pr)
      |SELECT est16, COUNT(*) AS n_sampled,
      |  CAST(COUNT(*) * 8 AS BIGINT) AS n_est,
      |  CAST(SUM(jac_bp) AS BIGINT) AS sum_jac_bp,
      |  CAST(MIN(jac_bp) AS BIGINT) AS min_jac_bp,
      |  CAST(MAX(jac_bp) AS BIGINT) AS max_jac_bp
      |FROM calc GROUP BY est16 ORDER BY est16""".stripMargin

  /** The curation FUNNEL — the three dedup/quality stages of a real
    * training-data pipeline composed end to end, each stage computed on
    * the PREVIOUS stage's survivors (the semantics that matter: a
    * near-dup cluster forms among exact-dedup survivors, and quality
    * gates only what dedup kept): exact dedup (min doc_id per identical
    * text, one hash shuffle) → near-dup canonical election (jaccard ≥
    * 0.8 components among survivors, keep the longest member —
    * [[d15Canonical]]'s rule) → Gopher/C4-style quality keep (t8's
    * reason logic). Output is the funnel census — per-stage survivor
    * count + id checksum — i.e. the retention report every curation run
    * publishes. Each stage is the scale shape already proven by its
    * standalone query; composition adds only survivor semi-joins.
    */
  def d17Funnel(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{tokens, tokenCount, typeCount}
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
    // stage 1: exact
    val ex = docs
      .withColumn("rn", row_number().over(
        W.partitionBy(col("text")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
      .staged()
    // stage 2: near-dup canonical among stage-1 survivors (pair set is
    // text-derived, so filtering full-corpus pairs to survivor endpoints
    // IS the pairs-among-survivors set)
    val edges = nearDupEdges(s, dir)
    val exIds = ex.select(col("doc_id"))
    val edges2 = edges
      .join(exIds.withColumnRenamed("doc_id", "u"), Seq("u"))
      .join(exIds.withColumnRenamed("doc_id", "v"), Seq("v"))
    val labels = componentLabels(edges2)
    val nd = ex
      .join(labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("label"), col("doc_id")))
      .withColumn("rn", row_number().over(W.partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rn") === 1).drop("rn", "label", "cluster")
      .staged()
    // stage 3: quality keep (t8's reason logic, keep-only)
    val top = nd.select(col("doc_id"), explode(tokens(col("text")))
        .as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id")).agg(max(col("tf")).as("top_tf"))
    val n = tokenCount(col("text"))
    val dupFrac = (n - typeCount(col("text"))).cast("double") /
      n.cast("double")
    val topFrac = col("top_tf").cast("double") / n.cast("double")
    val q = nd.join(top, Seq("doc_id"))
      .filter(n >= 20 && dupFrac <= 0.6 && topFrac <= 0.15)
    def stage(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("checksum"))
        .select(lit(name).as("stage"), col("n_docs"), col("checksum"))
    stage(docs, "0_all")
      .unionByName(stage(ex, "1_exact"))
      .unionByName(stage(nd, "2_neardup"))
      .unionByName(stage(q, "3_quality"))
      .orderBy(col("stage"))
  }

  val d17Oracle: String =
    """WITH RECURSIVE ex AS (SELECT doc_id, text, n_chars FROM (
      |    SELECT doc_id, text, n_chars,
      |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) rn
      |    FROM documents) WHERE rn = 1),
      |s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |sz AS (SELECT doc_id, COUNT(*) n FROM s GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |  FROM s a JOIN s b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT ia, ib FROM inter
      |  JOIN sz x ON x.doc_id = ia JOIN sz y ON y.doc_id = ib
      |  WHERE CAST(i AS DOUBLE) / CAST(x.n + y.n - i AS DOUBLE) >= 0.8),
      |pairs2 AS (SELECT ia, ib FROM pairs
      |  WHERE ia IN (SELECT doc_id FROM ex)
      |    AND ib IN (SELECT doc_id FROM ex)),
      |edges AS (SELECT ia u, ib v FROM pairs2
      |  UNION ALL SELECT ib, ia FROM pairs2),
      |nodes AS (SELECT DISTINCT u FROM edges),
      |reach AS (
      |  SELECT u, u AS lbl FROM nodes
      |  UNION
      |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
      |comp AS (SELECT u, MIN(lbl) AS keeper FROM reach GROUP BY u),
      |nd AS (SELECT doc_id, text FROM (
      |    SELECT ex.doc_id, ex.text,
      |      ROW_NUMBER() OVER (PARTITION BY COALESCE(comp.keeper, ex.doc_id)
      |        ORDER BY ex.n_chars DESC, ex.doc_id) rn
      |    FROM ex LEFT JOIN comp ON comp.u = ex.doc_id) WHERE rn = 1),
      |t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM nd),
      |u AS (SELECT doc_id, tok FROM t, unnest(toks) AS un(tok)),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY 1, 2),
      |top AS (SELECT doc_id, MAX(c) AS top_tf FROM tf GROUP BY 1),
      |m AS (SELECT t.doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd2,
      |    top_tf FROM t JOIN top ON t.doc_id = top.doc_id),
      |q AS (SELECT doc_id FROM m
      |  WHERE n >= 20 AND CAST(n - nd2 AS DOUBLE) / CAST(n AS DOUBLE) <= 0.6
      |    AND CAST(top_tf AS DOUBLE) / CAST(n AS DOUBLE) <= 0.15),
      |funnel AS (
      |  SELECT '0_all' AS stage, COUNT(*) AS n_docs,
      |    CAST(SUM(doc_id) AS BIGINT) AS checksum FROM documents
      |  UNION ALL SELECT '1_exact', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
      |    FROM ex
      |  UNION ALL SELECT '2_neardup', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
      |    FROM nd
      |  UNION ALL SELECT '3_quality', COUNT(*), CAST(SUM(doc_id) AS BIGINT)
      |    FROM q)
      |SELECT stage, n_docs, checksum FROM funnel ORDER BY stage""".stripMargin

  /** MinHash signature COMPOSABILITY under the gate: each document is split
    * into two overlapping segments (overlap = shingle width − 1, so the
    * segment shingle sets union to exactly the document's), each segment is
    * minhashed independently, and the segment signatures merge with the
    * custom [[graft.expressions.ElementwiseMin]] aggregate. The oracle
    * computes the WHOLE-document signature directly — hash equality proves
    * merged-per-block == global, the property that lets a 100 TB corpus be
    * minhashed block-by-block with map-side partial aggregation and no
    * full shingle set ever materialized in one place.
    */
  def dMinhashMerge(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val docs = Tables.documents(s, dir)
      .filter(length(col("text")) >= 3 && col("doc_id") < 100)
    val h = (length(col("text")) / 2).cast("int")
    val segs = docs.select(col("doc_id"), explode(array(
      col("text").substr(lit(1), h + lit(2)),
      col("text").substr(h + lit(1), length(col("text")) - h))).as("seg"))
    segs.select(col("doc_id"), minhash16(col("seg")).as("mh"))
      .groupBy(col("doc_id"))
      .agg(call_function("graft_elementwise_min", col("mh")).as("sig"))
      .select(col("doc_id"),
        concat_ws(":", transform(col("sig"), _.cast("string"))).as("sig"))
      .orderBy(col("doc_id"))
  }

  val dMinhashMergeOracle: String =
    """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS gs FROM documents
      |  WHERE length(text) >= 3 AND doc_id < 100),
      |hs AS (SELECT doc_id, list_transform(gs, g ->
      |    ((CAST(ascii(substr(g,1,1)) AS BIGINT) * 31 + ascii(substr(g,2,1))) * 31
      |     + ascii(substr(g,3,1))) % 1000000007) AS hv FROM sh),
      |mh AS (SELECT doc_id, list_transform(range(0, 16), i ->
      |    list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7*i+3) % 1000000007), 'min')) AS m
      |  FROM hs)
      |SELECT doc_id, list_aggregate(list_transform(m, x -> CAST(x AS VARCHAR)),
      |  'string_agg', ':') AS sig
      |FROM mh ORDER BY doc_id""".stripMargin

  /** SimHash near-dup: 48-bit signature over word-bigram features (unigrams
    * are degenerate on a shared-vocabulary corpus), pairs within hamming
    * distance 6 — candidates via hamming-LSH banding, never an all-pairs
    * self-join.
    *
    * The 48 bits split into 7 bands of 7 bits (the top band carries the
    * 6 remaining real bits). Pigeonhole: hd ≤ 6 means at most 6 bands can
    * differ, so every qualifying pair shares ≥ 1 identical band — recall
    * is exact and the oracle is unchanged. Candidates come from an
    * equi-join on (band, bits): shuffle volume is docs×7 rows partitioned
    * by band value, not docs², and nothing is broadcast. Scale note:
    * 7-bit bands give 128 buckets each, so on signature-uniform corpora
    * candidate volume is ~7·n²/128 — the exact-recall ceiling for this
    * radius; to push further, widen the signature (64-bit → 7×9-bit
    * bands, 512 buckets) or accept probabilistic recall. Exact hd ≤ k
    * retrieval is inherently Ω(colliding pairs).
    */
  /** Signature-count cap for the broadcast form of the hamming scan.
    * The binding constraint is the O(n²) COMPUTE, not the broadcast
    * bytes: every row xor+popcounts the whole array, so total work is
    * n²/2 pair checks. The default 256 Ki signatures means ≈3.4e10
    * checks — ~1 s/core at ~ns/check across a 32-way stage — while the
    * broadcast itself is a trivial 4 MB (16 B/sig) and the driver-side
    * collect is two primitive arrays. A bytes-sized cap (the old 4 Mi)
    * would admit ~8e12 checks — a wall-clock cliff just under the
    * threshold even though the broadcast still "fits". Above the cap
    * the banded equi-join path runs instead.
    */
  private def maxBroadcastSigs(s: SparkSession): Long =
    s.conf.get("spark.graft.dedup.maxBroadcastSigs", "262144").toLong

  def dSimhash(s: SparkSession, dir: String): DataFrame = {
    // staged: the signature table (doc_id + one long per doc) feeds
    // either branch below more than once — materialize the UDF once
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"),
        simhash48(filter(wordBigrams(col("text")), _.isNotNull)).as("sh"))
      .staged()
    if (sh.count() <= maxBroadcastSigs(s)) {
      // EXACT broadcast hamming scan — the right representation while
      // the signature table fits in memory (16 B/doc: 4M docs ≈ 64 MB):
      // every row runs a tight xor+popcount loop over the broadcast
      // array at ~ns/pair, so even n²/2 ≈ 10⁹ comparisons beat a
      // join-based candidate scheme whose per-candidate cost is the
      // ~µs row machinery of a shuffled join (measured 10×-probe: the
      // banded join spent ~50 s producing 42M candidate rows; this
      // scan does 1.25G comparisons in ~2 s). No banding → no recall
      // argument needed at all. Collected as specialized (Long, Long)
      // tuples, not Rows — at the cap the driver holds two primitive
      // arrays (~4 MB), not 256Ki InternalRow objects.
      import s.implicits._
      val pairs = sh.orderBy(col("doc_id")).as[(Long, Long)].collect()
      val ids = pairs.map(_._1)
      val sigs = pairs.map(_._2)
      val bcIds = s.sparkContext.broadcast(ids)
      val bcSigs = s.sparkContext.broadcast(sigs)
      val neighbors = udf((id: Long, sig: Long) => {
        val is = bcIds.value
        val ss = bcSigs.value
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
        var i = 0
        while (i < ss.length) {
          if (is(i) > id) {
            val hd = java.lang.Long.bitCount(sig ^ ss(i))
            if (hd <= 6) out += ((is(i), hd))
          }
          i += 1
        }
        out.toSeq
      })
      sh.select(col("doc_id").as("ia"),
          explode(neighbors(col("doc_id"), col("sh"))).as("p"))
        .select(col("ia"), col("p._1").as("ib"), col("p._2").as("hd"))
        .orderBy(col("ia"), col("ib"))
    } else {
      // Scale path: block-triple keys (84 tables × 15–18 bits), not
      // single 7-bit bands — the 128-value band space is ~n²/128
      // candidates per band at ANY corpus; the triple keys cut
      // candidates ~10× measured (see
      // [[DedupFunctions.simhashTripleKeys]]). A pair can collide in up
      // to 84 tables — one row each, same hd — hence the distinct.
      val banded = sh.select(col("doc_id"), col("sh"),
        explode(simhashTripleKeys(col("sh"))).as("bk"))
        .select(col("doc_id"), col("sh"),
          col("bk.band").as("band"), col("bk.bits").as("bits"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bits") === col("b.bits") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
          hammingDist(col("a.sh"), col("b.sh")).as("hd"))
        .filter(col("hd") <= 6)
        .distinct()
        .orderBy(col("ia"), col("ib"))
    }
  }

  val dSimhashOracle: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') toks FROM documents),
      |bg AS (SELECT doc_id, list_filter(list_transform(list_zip(toks, toks[2:]),
      |    z -> z[1] || ' ' || z[2]), x -> x IS NOT NULL) feats FROM t),
      |th AS (SELECT doc_id, list_transform(feats, w ->
      |    list_reduce(list_transform(regexp_extract_all(w, '.'), c -> CAST(ascii(c) AS BIGINT)),
      |                (a, b) -> (a * 31 + b) % 281474976710656)) hv FROM bg),
      |bits AS (SELECT doc_id, CAST(b AS INT) bpos,
      |    CASE WHEN 2 * len(list_filter(hv, h -> (h >> CAST(b AS INT)) & 1 = 1)) >= len(hv)
      |         THEN 1 ELSE 0 END v
      |  FROM th, range(0, 48) r(b)),
      |sh AS (SELECT doc_id, SUM(v * (CAST(1 AS BIGINT) << bpos)) s FROM bits GROUP BY doc_id)
      |SELECT a.doc_id ia, b.doc_id ib, bit_count(xor(a.s, b.s)) hd
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.s, b.s)) <= 6 ORDER BY ia, ib""".stripMargin

  /** Embedding-cosine near-dup for a BOUNDED probe set (vec_id % 10 = 0,
    * capped at vec_id < 1000 — ≤ 100 probes at any SF) against the full
    * set: probes broadcast, corpus streamed in one pass (the s1_knn_brute
    * shape), quantized-integer dot products keeping the cosine an exact
    * cross-engine double. This is the honest exact baseline; for
    * unbounded self-comparison at corpus scale, [[dEmbedLsh]] is the
    * linear-shuffle path.
    */
  def dEmbed(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nn", normSqLong(col("v")))
    val probes = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 1000)
      .withColumnRenamed("vec_id", "ia")
      .withColumnRenamed("v", "va").withColumnRenamed("nn", "na")
    val cos = cosineQ(dotLong(col("va"), col("v")), col("na"), col("nn"))
    broadcast(probes).crossJoin(e)
      .filter(col("ia") =!= col("vec_id"))
      .select(col("ia"), col("vec_id").as("ib"), cos.as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy(col("ia"), col("ib"))
  }

  val dEmbedOracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |p AS (SELECT a.vec_id ia, b.vec_id ib,
      |    list_aggregate(list_transform(range(1, len(a.v) + 1),
      |      i -> a.v[CAST(i AS INT)] * b.v[CAST(i AS INT)]), 'sum') dot,
      |    a.nn na, b.nn nb
      |  FROM n a JOIN n b ON a.vec_id % 10 = 0 AND a.vec_id < 1000
      |    AND a.vec_id <> b.vec_id)
      |SELECT ia, ib, CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
      |FROM p WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.4
      |ORDER BY ia, ib""".stripMargin

  /** Embedding-cosine near-dup over the FULL corpus via hyperplane-LSH
    * buckets — the 100 TB formulation: every vector gets a 6-plane
    * sign-bit bucket id ([[SimilarityQueries.hyperplaneBucket]], the same
    * quantizer as s2_ann_lsh), and pairs only meet inside a bucket, so
    * the self-pairing is an equi-join on bucket id — shuffle linear in
    * corpus size, partitioned by bucket, no broadcast and no cross join.
    * Recall is ANN semantics (pairs split across buckets are unseen —
    * cos ≥ 0.4 at 64-dim is a loose radius, so this is a candidate
    * generator, not the exact operator; [[dEmbed]] is the exact
    * baseline). Plane count scales bucket cardinality: ~log₂(n/target
    * bucket size) planes keeps per-bucket work constant as the corpus
    * grows. The oracle replays the identical bucket + cosine integer
    * arithmetic.
    */
  def dEmbedLsh(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nn", normSqLong(col("v")))
      .withColumn("bucket",
        SimilarityQueries.hyperplaneBucket(col("v"), 6, 64))
    val cos = cosineQ(dotLong(col("va"), col("vb")), col("na"), col("nb"))
    e.select(col("bucket"), col("vec_id").as("ia"), col("v").as("va"),
        col("nn").as("na"))
      .join(e.select(col("bucket"), col("vec_id").as("ib"),
        col("v").as("vb"), col("nn").as("nb")), Seq("bucket"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"), cos.as("cos"))
      .filter(col("cos") >= 0.4)
      .orderBy(col("ia"), col("ib"))
  }

  val dEmbedLshOracle: String =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, list_aggregate(list_transform(v, x -> x * x), 'sum') nn FROM q),
      |b AS (SELECT vec_id, v, nn,
      |    list_aggregate(list_transform(range(0, 6), j -> CASE WHEN
      |      list_aggregate(list_transform(range(1, len(v) + 1), i ->
      |        v[CAST(i AS INT)] * ((CAST(1103515245 AS BIGINT) * (j * 64 + i - 1) + 12345) % 2147483648 - 1073741824)),
      |        'sum') > 0
      |      THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END), 'sum') AS bucket
      |  FROM n),
      |p AS (SELECT a.vec_id ia, b2.vec_id ib,
      |    CAST(list_aggregate(list_transform(range(1, len(a.v) + 1),
      |        i -> a.v[CAST(i AS INT)] * b2.v[CAST(i AS INT)]), 'sum') AS DOUBLE)
      |      / (sqrt(CAST(a.nn AS DOUBLE)) * sqrt(CAST(b2.nn AS DOUBLE))) AS cos
      |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
      |SELECT ia, ib, cos FROM p WHERE cos >= 0.4 ORDER BY ia, ib""".stripMargin

  /** Benchmark-contamination check — the decontamination step of a
    * training-data pipeline: fraction of each corpus document's 3-gram
    * shingles that appear anywhere in a held-out benchmark set (here:
    * doc_id < 10 stands in for the eval suite). The scale shape is the
    * whole point: benchmark suites are SMALL by construction, so their
    * distinct shingle vocabulary collects to the driver once (bounded,
    * like [[vocabOf]]) and ships to executors in the kernel's closure —
    * the corpus then streams through ONE scan with a per-row sorted-merge
    * intersection ([[graft.expressions.SortedIntersectCount]]). Zero
    * shuffles, no join, linear at 100 TB.
    */
  def dContamination(s: SparkSession, dir: String): DataFrame =
    contaminationReport(s, dir, MaxBenchVocab)

  /** In-closure benchmark-vocabulary cap for [[dContamination]]: 2 MB of
    * packed shingles. Benchmark suites are small by construction, but the
    * cap is a hard guard, not an argument — a mis-pointed "benchmark"
    * selection must degrade to the join path, never OOM the driver.
    */
  private val MaxBenchVocab = 262144

  /** [[dContamination]] with an explicit vocabulary cap (spec hook: a
    * tiny cap forces the above-cap path on the same data). The probe is
    * `limit(cap+1)` like [[vocabOf]] — one bounded job decides the route
    * without ever materializing an unbounded vocabulary on the driver.
    * Above the cap: [[dBloomPrefilter]]'s shape — a constant-size bloom
    * sketch prunes the corpus shingle stream map-side, then an exact
    * semi-join (no broadcast hint: AQE broadcasts a small-enough bench
    * side and shuffles a genuinely big one) re-derives the same counts —
    * bloom filters have no false negatives, so both routes are exact.
    */
  private[graft] def contaminationReport(s: SparkSession, dir: String,
      benchVocabCap: Int): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), shinglesPacked3(col("text")).as("gs"))
    val benchGrams = docs.filter(col("doc_id") < 10)
      .select(explode(col("gs")).as("g")).distinct()
    val probe: Array[Long] =
      benchGrams.limit(benchVocabCap + 1).as[Long].collect()
    val corpus = docs.filter(col("doc_id") >= 10 && col("doc_id") < 110)
    val report =
      if (probe.length <= benchVocabCap) {
        val bench = probe.sorted
        corpus.select(col("doc_id"), size(col("gs")).as("n_shingles"),
          intersectSortedCount(col("gs"), typedLit(bench)).as("n_overlap"))
      } else {
        val bfBytes = benchGrams.agg(call_function("graft_bloom_agg",
          col("g"), lit(100000L), lit(800000L)).as("bf"))
          .head().getAs[Array[Byte]](0)
        val overlaps = corpus
          .select(col("doc_id"), explode(col("gs")).as("g"))
          .filter(call_function("graft_might_contain", lit(bfBytes),
            col("g")))
          .join(benchGrams, Seq("g"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
        corpus.select(col("doc_id"), size(col("gs")).as("n_shingles"))
          .join(overlaps, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_shingles"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      }
    report
      .withColumn("contamination", col("n_overlap").cast("double") /
        col("n_shingles").cast("double"))
      .orderBy(col("doc_id"))
  }

  val dContaminationOracle: String =
    """WITH s AS (SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS gs FROM documents),
      |bench AS (SELECT list_distinct(flatten(list(gs))) AS bl FROM s WHERE doc_id < 10),
      |c AS (SELECT doc_id, len(gs) AS n, len(list_intersect(gs, bl)) AS k
      |  FROM s CROSS JOIN bench WHERE doc_id >= 10 AND doc_id < 110)
      |SELECT doc_id, n AS n_shingles, k AS n_overlap,
      |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS contamination
      |FROM c ORDER BY doc_id""".stripMargin

  /** Window width (tokens) for substring dedup. Lee et al. use 50 on web
    * text; this synthetic corpus's documents are ~60 tokens, so 5 keeps
    * the census meaningful while the machinery is width-independent.
    */
  private val SpanTokens = 5

  /** Substring-level dedup census — the "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al., 2021) shape: find every
    * k-token span that occurs in ≥ 2 distinct documents, then report per
    * document how much of its content is cross-document duplicated
    * (`dup_frac` is the removal/filter signal).
    *
    * Scale shape: windows are generated per-row with codegen'd
    * higher-order functions (sequence → transform → explode), so the map
    * side is linear in total tokens with no driver state. The census is
    * three equi-shuffles, all keyed by span or doc_id: (span, doc) partial
    * counts (map-side combined), span doc-frequency, and the join back to
    * per-doc totals. Nothing is broadcast and no all-pairs structure
    * exists; ultra-common spans skew the span key, which two-level
    * aggregation absorbs (the (span, doc) pre-group bounds any single
    * span's rows at n_docs). At 100 TB, group on `xxhash64(span)` instead
    * of the span text to cut shuffle bytes ~5× (collision probability
    * ~n²/2⁶⁴), and raise k to 50.
    */
  def dSubstringDedup(s: SparkSession, dir: String): DataFrame = {
    val k = SpanTokens
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= k)
    val spans = docs.select(col("doc_id"), explode(
      transform(sequence(lit(0), size(col("t")) - k),
        i => concat_ws(" ", slice(col("t"), i + lit(1), lit(k))))).as("span"))
    // Every aggregation below is hash-based with map-side combine, so an
    // ultra-common span never concentrates on one task (a window over the
    // span partition would — sort-based, no partial agg). The join back
    // is pruned to DUPLICATED spans only, normally a small fraction.
    val spanDoc = spans.groupBy(col("span"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
    val docTotals = spanDoc.groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_spans"))
    val dupSpans = spanDoc.groupBy(col("span"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("span"))
    val dupPerDoc = spanDoc.join(dupSpans, "span")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("occ")).as("dup_occ"))
    docTotals.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_occ"), lit(0L)).as("dup_occ"))
      .withColumn("dup_frac",
        col("dup_occ").cast("double") / col("n_spans").cast("double"))
      .orderBy(col("doc_id"))
  }

  val dSubstringDedupOracle: String =
    """WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |ok AS (SELECT * FROM toks WHERE len(t) >= 5),
      |idx AS (SELECT doc_id, t, unnest(range(0, len(t) - 4)) AS i FROM ok),
      |w AS (SELECT doc_id,
      |    list_aggregate(t[CAST(i+1 AS INT):CAST(i+5 AS INT)], 'string_agg', ' ') AS span
      |  FROM idx),
      |sd AS (SELECT span, doc_id, CAST(COUNT(*) AS BIGINT) AS occ
      |  FROM w GROUP BY 1, 2),
      |df AS (SELECT span, COUNT(*) AS nd FROM sd GROUP BY 1),
      |agg AS (SELECT sd.doc_id,
      |    CAST(SUM(sd.occ) AS BIGINT) AS n_spans,
      |    CAST(SUM(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
      |    CAST(SUM(CASE WHEN df.nd >= 2 THEN sd.occ ELSE 0 END) AS BIGINT) AS dup_occ
      |  FROM sd JOIN df ON sd.span = df.span GROUP BY 1)
      |SELECT doc_id, n_spans, n_dup_spans, dup_occ,
      |  CAST(dup_occ AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_frac
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Duplicated-span REMEDIATION ([[dSubstringDedup]] is the census; this
    * is the fix, Lee et al.'s actual dedup step): a token is scrubbed
    * when ANY cross-document duplicated k-token span covers it, and the
    * output is the per-document retention table (tokens, covered,
    * retained) a rewrite stage applies. Coverage expansion is a
    * constant-width explode (each duplicated span start covers k
    * positions) followed by a distinct — all hash shuffles keyed by
    * (doc, position), no sort concentration; the duplicated-span join is
    * pruned to the (normally small) duplicated fraction exactly like the
    * census.
    */
  def d18SpanScrub(s: SparkSession, dir: String): DataFrame = {
    val k = SpanTokens
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), toks.as("t"))
    val spanDocs = docs.filter(size(col("t")) >= k)
    val spansIdx = spanDocs.select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("t")) - k),
          i => struct(i.as("i"),
            concat_ws(" ", slice(col("t"), i + lit(1), lit(k))).as("span"))))
        .as("sp"))
      .select(col("doc_id"), col("sp.i").as("i"), col("sp.span").as("span"))
    val dupSpans = spansIdx.groupBy(col("span"), col("doc_id")).count()
      .groupBy(col("span")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("span"))
    val covered = spansIdx.join(dupSpans, "span")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    docs.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("n_retained", col("n_tokens") - col("n_covered"))
      .orderBy(col("doc_id"))
  }

  val d18Oracle: String =
    """WITH toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS t
      |  FROM documents),
      |ok AS (SELECT * FROM toks WHERE len(t) >= 5),
      |idx AS (SELECT doc_id, t, unnest(range(0, len(t) - 4)) AS i FROM ok),
      |w AS (SELECT doc_id, i,
      |    list_aggregate(t[CAST(i+1 AS INT):CAST(i+5 AS INT)], 'string_agg', ' ') AS span
      |  FROM idx),
      |df AS (SELECT span FROM (SELECT span, COUNT(DISTINCT doc_id) nd
      |  FROM w GROUP BY span) WHERE nd >= 2),
      |cov AS (SELECT doc_id, COUNT(*) AS n_covered FROM (
      |  SELECT DISTINCT w.doc_id, w.i + d AS p
      |  FROM w JOIN df USING(span), range(0, 5) r(d)) GROUP BY doc_id)
      |SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered,
      |  CAST(len(toks.t) - COALESCE(cov.n_covered, 0) AS BIGINT)
      |    AS n_retained
      |FROM toks LEFT JOIN cov ON cov.doc_id = toks.doc_id
      |ORDER BY toks.doc_id""".stripMargin

  /** HyperLogLog-style distinct-shingle cardinality sketch, 64 registers,
    * built and UNIONED with [[graft.expressions.ElementwiseMax]] — the
    * mergeable-sketch counterpart of [[dMinhashMerge]]: per-register max is
    * associative/commutative, so per-document (per-block, per-day, …)
    * register arrays combine into the exact sketch of the union without
    * rescanning anything. The output juxtaposes each source's sketch with
    * its exact distinct count, and the `__union__` row is a SKETCH OF
    * SKETCHES — the 20 source sketches max-merged again, never touching
    * the raw data, which is the operational win at 100 TB (per-partition
    * sketches roll up to any grouping for free; map-side partial
    * aggregation does the heavy merging).
    *
    * Register math in engine-exact integers: the d3/d7 polynomial shingle
    * hash scrambled affinely mod P (spreads it over [0, P) ≈ 2^30),
    * bucket = h mod 64, and the rank is the leading-zero count of the
    * remaining 24-bit field via `25 - length(bin(h div 64))` — `bin()`
    * renders without leading zeros identically in both engines. The
    * estimate itself is floating-point folklore (bias constants), so it
    * stays in the spec (`ElementwiseMinSpec` asserts ±50% on this corpus);
    * the oracle pins registers and exact counts bit-for-bit.
    */
  def dHllCardinality(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    // packed 3-shingles (one primitive UDF pass per doc, see
    // shinglesPacked3): the pack preserves the char code points, so the
    // oracle's ascii-polynomial hash is recovered from bit-slices — no
    // per-shingle string ops anywhere
    val docs = Tables.documents(s, dir).filter(length(col("text")) >= 3)
      .select(col("source"), col("doc_id"),
        shinglesPacked3(col("text")).as("ps"))
    // per-document dense register arrays — the "block" sketches — built in
    // the same narrow pass (hllRegisters64), zero shuffles until the merge
    val perDoc = docs.select(col("source"), col("doc_id"),
      hllRegisters64(col("ps")).as("regs"))
    // materialize the 20 source sketches once; the union row derives from
    // THEM (sketch of sketches), not from another corpus scan
    val bySource = perDoc.groupBy(col("source"))
      .agg(call_function("graft_elementwise_max", col("regs")).as("regs"))
      .staged()
    val unionSketch = bySource
      .groupBy(lit("__union__").as("source"))
      .agg(call_function("graft_elementwise_max", col("regs")).as("regs"))
    // exact counts from one distinct pass over the packed longs
    val dist = docs.select(col("source"), explode(col("ps")).as("p"))
      .distinct().staged()
    val exactBySource = dist.groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"))
    val exactUnion = dist.select(col("p")).distinct()
      .groupBy(lit("__union__").as("source"))
      .agg(count(lit(1)).as("n_exact"))
    bySource.unionByName(unionSketch)
      .join(exactBySource.unionByName(exactUnion), "source")
      .select(col("source"), col("n_exact"),
        concat_ws(":", transform(col("regs"), _.cast("string"))).as("sig"))
      .orderBy(col("source"))
  }

  val dHllOracle: String =
    """WITH sh AS (SELECT doc_id, source,
      |    list_distinct(list_transform(range(1, length(text) - 1),
      |      i -> substr(text, CAST(i AS INT), 3))) gs
      |  FROM documents WHERE length(text) >= 3),
      |hx AS (SELECT source,
      |    (((CAST(ascii(substr(g,1,1)) AS BIGINT) * 31 + ascii(substr(g,2,1)))
      |      * 31 + ascii(substr(g,3,1))) * 48271 + 11) % 1000000007 AS h, g
      |  FROM (SELECT source, unnest(gs) g FROM sh)),
      |rk AS (SELECT source, h % 64 AS b,
      |    CASE WHEN h // 64 = 0 THEN 25
      |      ELSE 25 - length(bin(h // 64)) END AS r, g
      |  FROM hx),
      |regs AS (SELECT source, b, MAX(r) mr FROM rk GROUP BY 1, 2),
      |dense AS (SELECT s.source, j.j, COALESCE(regs.mr, 0) v
      |  FROM (SELECT DISTINCT source FROM sh) s CROSS JOIN range(0, 64) j(j)
      |  LEFT JOIN regs ON regs.source = s.source AND regs.b = j.j),
      |sig AS (SELECT source,
      |    string_agg(CAST(v AS VARCHAR), ':' ORDER BY j) sig
      |  FROM dense GROUP BY source),
      |ex AS (SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) n_exact
      |  FROM rk GROUP BY source),
      |uregs AS (SELECT b, MAX(r) mr FROM rk GROUP BY 1),
      |udense AS (SELECT j.j, COALESCE(uregs.mr, 0) v
      |  FROM range(0, 64) j(j) LEFT JOIN uregs ON uregs.b = j.j),
      |usig AS (SELECT string_agg(CAST(v AS VARCHAR), ':' ORDER BY j) sig
      |  FROM udense),
      |uex AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) n_exact FROM rk)
      |SELECT ex.source, ex.n_exact, sig.sig
      |  FROM ex JOIN sig USING(source)
      |UNION ALL
      |SELECT '__union__' AS source, uex.n_exact, usig.sig
      |  FROM uex CROSS JOIN usig
      |ORDER BY source""".stripMargin

  /** Bloom-prefilter decontamination — [[dContamination]]'s sibling for
    * when the benchmark vocabulary does NOT fit an in-closure array: a
    * `bloom_filter_agg` sketch of the benchmark shingles (a few KB
    * regardless of item count) broadcasts to the corpus scan, and
    * `might_contain` discards the overwhelming majority of shingle
    * occurrences BEFORE anything shuffles toward the verification join.
    * Bloom filters have no false negatives, so prefilter + exact
    * semi-verify ≡ the exact join — the oracle is the plain exact form,
    * and the sketch is purely a (100 TB-critical) volume reducer: the
    * join's probe stream shrinks from every-shingle-everywhere to
    * near-candidates only.
    */
  def dBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), shinglesPacked3(col("text")).as("gs"))
    val bench = docs.filter(col("doc_id") < 10)
      .select(explode(col("gs")).as("p")).distinct()
    // The sketch aggregates distributedly (map-side partial merge), then
    // the ~100 KB binary — CONSTANT-side regardless of benchmark item
    // count, unlike d9's vocabulary array — collects once and ships to
    // executors as a literal (might_contain requires a constant filter;
    // at 100 TB this is the same bounded-small-side pull as a broadcast).
    val bfBytes = bench.agg(call_function("graft_bloom_agg", col("p"),
      lit(100000L), lit(800000L)).as("bf")).head().getAs[Array[Byte]](0)
    val corpus = docs.filter(col("doc_id") >= 10 && col("doc_id") < 110)
      .select(col("doc_id"), explode(col("gs")).as("p"))
    corpus
      .filter(call_function("graft_might_contain", lit(bfBytes), col("p")))
      .join(broadcast(bench), Seq("p"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .orderBy(col("doc_id"))
  }

  val dBloomOracle: String =
    """WITH s0 AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(length(text) - 1, 1)),
      |    i -> substr(text, CAST(i AS INT), 3))) AS g FROM documents),
      |s AS (SELECT DISTINCT doc_id, g FROM s0),
      |bench AS (SELECT DISTINCT g FROM s WHERE doc_id < 10)
      |SELECT doc_id, COUNT(*) AS n_overlap
      |FROM s JOIN bench USING (g)
      |WHERE doc_id >= 10 AND doc_id < 110
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Incremental-ingest near-dup detection — the shape every production
    * dedup pipeline actually runs: a SMALL arriving block (here doc_id <
    * 100 stands in for a day's ingest) is checked against the EXISTING
    * corpus without any corpus self-join. The new block's banded MinHash
    * index — signatures AND shingle sets, a few KB per doc — broadcasts;
    * the corpus streams through ONE scan, matching bands map-side and
    * verifying exact Jaccard inline on the already-co-located shingle
    * arrays. Zero shuffles until the tiny distinct over matched pairs
    * (a pair matching in several bands duplicates; jac is identical, so
    * distinct collapses it). Corpus signatures would be precomputed and
    * stored in production ([[dMinhashMerge]] proves they're mergeable);
    * here they're derived in the same scan for self-containedness.
    *
    * Degenerate-banding caveat (d3's measured failure) matters less here:
    * candidate volume is bounded by |new| × corpus-bucket overlap, and
    * the broadcast side is the new block, never the corpus.
    */
  def dIncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.LongArrayOps.register(s)
    val tau = 0.8
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), shinglesPacked3(col("text")).as("gs"),
        minhash16(col("text")).as("mh"))
    // representation-adaptive like d2/d3: when the dictionary fits,
    // the ARRIVING BLOCK (bitsets + sizes + band sigs, ~100 B/doc)
    // packs into one broadcast and each corpus row sweeps it in a
    // tight loop — band agreement → lossless size filter →
    // AND+popcount → jac ≥ τ — so a candidate costs ~ns instead of
    // the ~µs row machinery of the banded join (which shuffles every
    // bucket collision as a row; on a degenerate-bucket corpus that
    // is nearly block×corpus rows). Exact same pair set: a pair
    // qualifies iff ≥1 band agrees and jac ≥ τ, and the single sweep
    // visits each pair exactly once (the join form needed the
    // first-agreeing-band guard for that).
    val vocabOpt = vocabOf(docs.select(col("doc_id"), col("gs")))
    vocabOpt match {
      case Some(vocab) =>
        def enc(df: DataFrame) = df.select(col("doc_id"),
          bitsetUdf(vocab)(col("gs")).as("bits"),
          size(col("gs")).as("n"),
          bandSignatures(col("mh"), 4, 4).as("sigs"))
        val pk = packBitsets(enc(docs.filter(col("doc_id") < 100)),
          withSigs = true)
        val bc = s.sparkContext.broadcast(pk)
        val sweep = udf((myBits: Seq[Long], myN: Int,
            mySigs: Seq[String]) => {
          val p = bc.value
          val mb = myBits.toArray
          val ms = mySigs.toArray
          val out =
            scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
          var a = 0
          while (a < p.ids.length) {
            var agree = false
            var k = 0
            while (k < 4 && !agree) {
              agree = ms(k) == p.sigs(a * 4 + k)
              k += 1
            }
            val na = p.ns(a)
            // exact integer form of τ = 4/5 — a double ⌈τ·max⌉
            // mis-rounds on exact-ratio pairs (0.8·295 → 237)
            if (agree && math.min(na, myN) * 5L >=
                math.max(na, myN) * 4L) {
              var inter = 0L
              var j = 0
              val off = a * p.w
              while (j < p.w) {
                inter += java.lang.Long.bitCount(mb(j) & p.bits(off + j))
                j += 1
              }
              val jac = inter.toDouble / (na + myN - inter).toDouble
              if (jac >= tau) out += ((p.ids(a), jac))
            }
            a += 1
          }
          out.toSeq
        })
        enc(docs.filter(col("doc_id") >= 100))
          .select(col("doc_id").as("ib"),
            explode(sweep(col("bits"), col("n"), col("sigs"))).as("pj"))
          .select(col("pj._1").as("ia"), col("ib"),
            col("pj._2").as("jac"))
          .orderBy(col("ia"), col("ib"))
      case None =>
        // general-vocabulary path: the banded equi-join over sorted
        // shingle arrays, first-agreeing-band guarded
        def banded(df: DataFrame, id: String, g: String, nn: String,
            sg: String) = df
          .select(col("doc_id").as(id), col("gs").as(g),
            size(col("gs")).as(nn), bandSignatures(col("mh"), 4, 4).as(sg))
          .select(col(id), col(g), col(nn), col(sg),
            posexplode(col(sg)).as(Seq("band", "sig")))
        val fresh =
          banded(docs.filter(col("doc_id") < 100), "ia", "ga", "na", "sa")
        val corpus =
          banded(docs.filter(col("doc_id") >= 100), "ib", "gb", "nb", "sb")
        val firstBand = !(0 until 3).map(b =>
          col("band") > b &&
            element_at(col("sa"), b + 1) === element_at(col("sb"), b + 1))
          .reduce(_ || _)
        val sizeOk = least(col("na"), col("nb")) * 5 >=
          greatest(col("na"), col("nb")) * 4
        corpus.join(broadcast(fresh), Seq("band", "sig"))
          .filter(firstBand && sizeOk)
          .withColumn("i", intersectSortedCount(col("ga"), col("gb")))
          .select(col("ia"), col("ib"),
            jacCol(col("i"), col("na"), col("nb")).as("jac"))
          .filter(col("jac") >= tau)
          .orderBy(col("ia"), col("ib"))
    }
  }

  val dIncrementalOracle: String =
    """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 1),
      |    i -> substr(text, CAST(i AS INT), 3))) AS gs FROM documents),
      |hs AS (SELECT doc_id, gs, list_transform(gs, g ->
      |    ((CAST(ascii(substr(g,1,1)) AS BIGINT) * 31 + ascii(substr(g,2,1))) * 31
      |     + ascii(substr(g,3,1))) % 1000000007) AS hv FROM sh),
      |mh AS (SELECT doc_id, gs, list_transform(range(0, 16), i ->
      |    list_aggregate(list_transform(hv, h -> ((2*i+1)*h + 7*i+3) % 1000000007), 'min')) AS m
      |  FROM hs),
      |bands AS (SELECT doc_id, gs, CAST(b AS INT) AS band,
      |    list_aggregate(list_transform(m[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)],
      |      x -> CAST(x AS VARCHAR)), 'string_agg', ':') AS sig
      |  FROM mh, range(0, 4) r(b)),
      |cand AS (SELECT DISTINCT a.doc_id ia, b.doc_id ib, a.gs ga, b.gs gb
      |  FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.sig = b.sig
      |    AND a.doc_id < 100 AND b.doc_id >= 100),
      |ver AS (SELECT ia, ib, CAST(len(list_intersect(ga, gb)) AS DOUBLE)
      |    / CAST(len(ga) + len(gb) - len(list_intersect(ga, gb)) AS DOUBLE) AS jac
      |  FROM cand)
      |SELECT ia, ib, jac FROM ver WHERE jac >= 0.8 ORDER BY ia, ib""".stripMargin

  /** PARAGRAPH-level boilerplate dedup — the corpus-cleanup operator
    * between d1 (whole-document exact dup) and d10 (substring spans):
    * web text repeats PARAGRAPHS (footers, cookie banners, navigation,
    * license blocks) across millions of otherwise-distinct pages, and
    * the standard cure (the C4/CCNet line-level rule) keeps each
    * repeated paragraph only at its FIRST occurrence corpus-wide —
    * (min doc_id, min position) — and drops every other copy. Planted
    * docs carry one unique paragraph, two shared boilerplate
    * paragraphs (keyed mod 5 / mod 3), and a corpus-text prefix. The
    * 100 TB shape: paragraphs shuffle as (rolling-hash, doc, pos) —
    * 24 B each, never the text (the engine-wide replayable polynomial
    * hash, so DuckDB reproduces the grouping key exactly); the winner
    * per hash is one min(struct) aggregate; text length only rides the
    * final per-doc census.
    */
  def d26ParagraphDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val sep = "\n\n"
    val aug = Tables.documents(s, dir).filter(col("doc_id") < 150)
      .select(col("doc_id"),
        concat(
          lit("DOC:"), col("doc_id").cast("string"), lit(sep),
          lit("SHARE-"), (col("doc_id") % 5).cast("string"), lit(sep),
          lit("FOOTER-"), (col("doc_id") % 3).cast("string"), lit(sep),
          substring(col("text"), 1, 40)).as("raw"))
    // the census only ever needs length(para): project it BEFORE the
    // h-keyed join so the winner exchange carries (h, doc, pos, len) —
    // 32 B fixed-width rows, never the paragraph text (at 100 TB the
    // text through that shuffle is the corpus itself)
    val paras = aug.select(col("doc_id"),
        posexplode(split(col("raw"), sep)).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos"),
        TextFunctions.rollingHash(col("para")).as("h"),
        length(col("para")).cast("long").as("len"))
    val winner = paras.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    paras.join(winner, "h")
      .withColumn("keep",
        col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("len")).otherwise(0L)).as("kept_chars"))
      .orderBy(col("doc_id"))
  }

  val d26Oracle: String =
    """WITH aug AS (SELECT doc_id,
      |    'DOC:' || doc_id || chr(10) || chr(10)
      |    || 'SHARE-' || (doc_id % 5) || chr(10) || chr(10)
      |    || 'FOOTER-' || (doc_id % 3) || chr(10) || chr(10)
      |    || substr(text, 1, 40) AS raw
      |  FROM documents WHERE doc_id < 150),
      |pl AS (SELECT doc_id,
      |    string_split(raw, chr(10) || chr(10)) AS p FROM aug),
      |paras AS (SELECT doc_id, CAST(i AS INT) - 1 AS pos,
      |    p[CAST(i AS INT)] AS para
      |  FROM pl, range(1, 20) r(i) WHERE i <= len(p)),
      |hashed AS (SELECT doc_id, pos, para,
      |    CASE WHEN length(para) = 0 THEN 0
      |      ELSE list_reduce(list_transform(
      |        regexp_extract_all(para, '.'),
      |        c -> CAST(ascii(c) AS BIGINT)),
      |        (a, b) -> (a * 31 + b) % 1000000007) END AS h
      |  FROM paras),
      |ranked AS (SELECT doc_id, pos, para,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |  FROM hashed)
      |SELECT doc_id, COUNT(*) AS n_paras,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(CASE WHEN rn = 1 THEN length(para) ELSE 0 END)
      |    AS BIGINT) AS kept_chars
      |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> (dExact _),
    "d2_jaccard_neardup" -> (dJaccard _),
    "d3_minhash_lsh" -> (dMinhashLsh _),
    "d4_simhash" -> (dSimhash _),
    "d5_embed_neardup" -> (dEmbed _),
    "d6_cluster" -> (dCluster _),
    "d7_minhash_merge" -> (dMinhashMerge _),
    "d8_embed_lsh" -> (dEmbedLsh _),
    "d9_contamination" -> (dContamination _),
    "d10_substring_dedup" -> (dSubstringDedup _),
    "d11_hll_cardinality" -> (dHllCardinality _),
    "d12_bloom_prefilter" -> (dBloomPrefilter _),
    "d13_incremental_lsh" -> (dIncrementalLsh _),
    "d15_canonical" -> (d15Canonical _),
    "d16_minhash_calib" -> (d16MinhashCalib _),
    "d20_sampled_calib" -> (d20SampledCalib _),
    "d21_budget_neardup" -> (d21BudgetNeardup _),
    "d22_budget_containment" -> (d22BudgetContainment _),
    "d23_budget_docsample" -> (d23BudgetDocSample _),
    "d24_census_jaccard" -> (d24CensusJaccard _),
    "d25_census_containment" -> (d25CensusContainment _),
    "d26_paragraph_dedup" -> (d26ParagraphDedup _),
    "d17_funnel" -> (d17Funnel _),
    "d19_containment" -> (dContainment _),
    "d18_span_scrub" -> (d18SpanScrub _))

  val oracle: Map[String, String] = Map(
    "d1_exact_dedup" -> dExactOracle,
    "d2_jaccard_neardup" -> dJaccardOracle,
    "d3_minhash_lsh" -> dMinhashOracle,
    "d4_simhash" -> dSimhashOracle,
    "d5_embed_neardup" -> dEmbedOracle,
    "d6_cluster" -> dClusterOracle,
    "d7_minhash_merge" -> dMinhashMergeOracle,
    "d8_embed_lsh" -> dEmbedLshOracle,
    "d9_contamination" -> dContaminationOracle,
    "d10_substring_dedup" -> dSubstringDedupOracle,
    "d11_hll_cardinality" -> dHllOracle,
    "d12_bloom_prefilter" -> dBloomOracle,
    "d13_incremental_lsh" -> dIncrementalOracle,
    "d15_canonical" -> d15Oracle,
    "d16_minhash_calib" -> d16Oracle,
    "d20_sampled_calib" -> d20Oracle,
    "d21_budget_neardup" -> d21Oracle,
    "d22_budget_containment" -> d22Oracle,
    "d23_budget_docsample" -> d23Oracle,
    "d24_census_jaccard" -> d24Oracle,
    "d25_census_containment" -> d25Oracle,
    "d26_paragraph_dedup" -> d26Oracle,
    "d17_funnel" -> d17Oracle,
    "d18_span_scrub" -> d18Oracle,
    "d19_containment" -> dContainmentOracle)
}
