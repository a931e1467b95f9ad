package graft.operators

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Deduplication operator family for large-scale training-data pipelines
  * (SURVEY.md §2.10): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. All are DataFrame compositions — shuffles are
  * keyed by content hashes / band signatures, never by a cross product, so
  * each scales out by adding partitions. False candidates from banding are
  * always removed by an exact verification join, so banding only affects
  * recall/cost, never precision.
  */
object Dedup {

  /** Exact dedup: canonical representative (min id) per identical text.
    * `groupBy(text)` rather than dropDuplicates so the survivor is
    * deterministic. At scale, group by `xxhash64(text)` first and compare
    * texts within buckets to keep shuffle keys small. */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(col(text))
      .agg(min(col(id)).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"), length(col(text)).as("n_chars"))

  /** [[exact]] under Unicode canonical equivalence: texts are NFC-
    * composed (TextFunctions.nfc, per-row typed map — no SQL UDF) before
    * grouping, so byte-distinct but canonically-equal documents
    * (decomposed vs precomposed accents) collapse to one survivor —
    * the normalization pass a real multi-source corpus needs before any
    * content-hash dedup. Same scale shape as [[exact]]: the only
    * shuffle is the groupBy on the (normalized) content key. */
  def exactNormalized(df: DataFrame, id: String, text: String): DataFrame =
    exactUnder(df, id, text)(graft.functions.TextFunctions.nfc)

  /** [[exact]] under COMPATIBILITY equivalence plus case folding
    * (TextFunctions.nfkcFold — NFKC then Locale.ROOT lowercase): byte-
    * distinct spellings that differ only by ligature, fullwidth form,
    * compatibility symbol, or letter case collapse to one survivor — the
    * aggressive dedup pass for corpora mixing OCR, CJK-width, and
    * styled-text sources, where [[exactNormalized]]'s canonical-only NFC
    * keeps ﬁle / file / FILE as three distinct documents. Same scale
    * shape: one groupBy on the normalized content key. */
  def exactNormalizedCompat(df: DataFrame, id: String, text: String): DataFrame =
    exactUnder(df, id, text)(graft.functions.TextFunctions.nfkcFold)

  /** Shared machinery of the normalized exact-dedup family: per-row JVM
    * normalization (typed mapPartitions — no SQL UDF), then the single
    * content-key groupBy with deterministic min-id survivor. */
  private def exactUnder(df: DataFrame, id: String, text: String)(
      norm: String => String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val normed = df
      .select(col(id).cast("long").as("_id"), col(text).as("_text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (i, t) => (i, norm(t)) })
      .toDF("_id", "norm_text")
    normed.groupBy(col("norm_text"))
      .agg(min(col("_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"),
        length(col("norm_text")).as("n_chars"))
  }

  /** Quality-ranked CANONICAL SELECTION over exact-duplicate clusters —
    * the keep-BEST survivor policy of production corpus dedup (RefinedWeb
    * keeps the longest copy of a duplicated page; FineWeb the highest-
    * quality-scored one) where [[exact]]/[[exactNormalized]] keep min-id.
    * Documents group under NFC canonical equivalence; the survivor is the
    * copy with the HIGHEST `quality`, ties broken by LOWEST id, so
    * selection is deterministic for any tie pattern.
    *
    * Scale shape: identical to [[exact]] — ONE content-key groupBy whose
    * partial aggregation carries a single (quality, −id) champion per key
    * per map partition (`max_by` over a struct ordering), so a page
    * duplicated across a million hosts ships one candidate per map task,
    * never a per-key window or sort. */
  def keepBest(df: DataFrame, id: String, text: String,
      quality: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val normed = df
      .select(col(id).cast("long").as("_id"), col(text).as("_text"),
        col(quality).cast("double").as("_q"))
      .as[(Long, String, Double)]
      .mapPartitions(_.map { case (i, t, q) =>
        (i, graft.functions.TextFunctions.nfc(t), q) })
      .toDF("_id", "norm_text", "_q")
    normed.groupBy(col("norm_text"))
      .agg(
        max_by(col("_id"), struct(col("_q"), -col("_id"))).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max(col("_q")).as("best_quality"))
      .select(col("keep_id"), col("n_copies"), col("best_quality"),
        length(col("norm_text")).as("n_chars"))
  }

  /** Line-level corpus dedup — the boilerplate pass (CCNet-style line
    * dedup / the RefinedWeb "remove lines repeated across many pages"
    * rule): drop every line whose DISTINCT-DOCUMENT frequency exceeds
    * `maxDocFreq`, preserving the surviving lines' original order, and
    * report per-document kept/dropped counts. Nav bars, cookie banners
    * and copyright footers repeat across thousands of pages while real
    * prose lines are near-unique, so a distinct-doc-frequency threshold
    * separates them without any language model.
    *
    * Scale shape: one shuffle keyed by line content builds the frequency
    * dictionary (partial aggregation absorbs the skewed boilerplate keys
    * map-side); the dictionary is then FILTERED to the dropped lines
    * before the flagging join — the dropped set is the boilerplate
    * itself, orders of magnitude smaller than the corpus, so the join's
    * build side stays small at any corpus size (AQE will broadcast it
    * when it fits). Reassembly is one groupBy per document with a
    * bounded (document-sized) collect_list — never a global sort.
    *
    * Output: (doc_id, clean_text, n_kept, n_dropped); a document whose
    * every line is boilerplate survives with clean_text = "". */
  def lineDedup(df: DataFrame, id: String, text: String,
      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val lines = df.select(col(id).as("_id"),
      posexplode(split(col(text), "\n", -1)).as(Seq("_pos", "_line")))
      .withColumn("_key", col("_line"))
    lineDedupFromLines(lines, maxDocFreq)
  }

  /** [[lineDedup]] under NORMALIZED line keys (whitespace fold — trim +
    * collapse runs to one space — then NFC): the RefinedWeb refinement
    * for boilerplate that arrives trivially reformatted, where the same
    * footer shows up with doubled spaces on one template and a
    * decomposed accent on another, so each RAW spelling stays under the
    * frequency threshold while the page element itself is corpus-wide.
    * The frequency dictionary keys on the normalized form; surviving
    * lines keep their ORIGINAL bytes. Same scale shape: normalization is
    * per-row JVM (typed flatMap — no SQL UDF), the only extra cost over
    * [[lineDedup]] is the key computation on the scan. */
  def lineDedupNormalized(df: DataFrame, id: String, text: String,
      maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    // the typed normalization pass encodes ids as Long; a lossy cast
    // would turn non-numeric ids into NULLs SILENTLY (nothing dropped,
    // all docs collapsed onto one null key) — fail loudly instead
    val idType = df.schema(id).dataType
    require(Seq("long", "integer", "short", "byte")
        .contains(idType.typeName),
      s"lineDedupNormalized needs an integral id column, got $id: $idType")
    val spark = df.sparkSession
    import spark.implicits._
    val lines = df
      .select(col(id).cast("long").as("_id"), col(text).as("_t"))
      .as[(Long, String)]
      .flatMap { case (i, t) =>
        t.split("\n", -1).iterator.zipWithIndex.map { case (l, p) =>
          // collapse runs FIRST, then strip edge SPACES only — the
          // collapse turns every \s (tabs included) into ' ', so the
          // space-only edge strip matches the SQL mirror
          // trim(regexp_replace(line, '\s+', ' ', 'g')) exactly (Java
          // String.trim would also eat non-\s control chars and diverge)
          (i, p, l, graft.functions.TextFunctions.nfc(
            l.replaceAll("\\s+", " ").replaceAll("^ +| +$", "")))
        }
      }
      .toDF("_id", "_pos", "_line", "_key")
    lineDedupFromLines(lines, maxDocFreq)
  }

  /** Shared tail of the line-dedup family: distinct-doc frequency over
    * `_key`, dictionary filtered to the dropped set before the flagging
    * join (broadcast-sized build side), bounded per-doc reassembly. */
  private def lineDedupFromLines(lines: DataFrame,
      maxDocFreq: Long): DataFrame = {
    val dropped = lines.groupBy(col("_key"))
      .agg(countDistinct(col("_id")).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select(col("_key"), lit(true).as("_hit"))
    val flagged = lines.join(dropped, Seq("_key"), "left")
      .withColumn("_drop", coalesce(col("_hit"), lit(false)))
    flagged.groupBy(col("_id"))
      .agg(sort_array(collect_list(
        struct(col("_pos"), col("_drop"), col("_line")))).as("_ls"))
      .select(col("_id").as("doc_id"),
        array_join(transform(
          filter(col("_ls"), x => not(x.getField("_drop"))),
          x => x.getField("_line")), "\n").as("clean_text"),
        size(filter(col("_ls"), x => not(x.getField("_drop"))))
          .cast("long").as("n_kept"),
        size(filter(col("_ls"), x => x.getField("_drop")))
          .cast("long").as("n_dropped"))
  }

  /** Distinct word-n-gram shingle set per document: (doc_id, shingle).
    * Typed flatMap (JVM sliding window) rather than the interpreted
    * higher-order-function lambda — measured ~8× faster on the shingle
    * materialization. Tokenization is the SQL-exact replica of
    * TextFunctions.tokens (space-only trim, empty-token edge cases kept)
    * so the oracle never sees shifted shingles on exotic whitespace. */
  def shingleSet(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // fan out the unsplittable single-file scan BEFORE tokenize+shingle:
    // the flatMap below is the CPU-heavy map side of every dedup shuffle,
    // and the cached/checkpointed shingle set inherits this partitioning —
    // downstream consumers (counts, postings, verify joins) parallelize
    // only if it is wider than one partition (guide §2.5; no-op at scale)
    Scale.fanOut(df.select(col(id).as("doc_id"), col(text).as("text")),
        "doc_id")
      .as[(Long, String)]
      .flatMap { case (docId, t) =>
        val toks = graft.functions.TextFunctions.tokenizeLikeSql(t)
        if (toks.length < n) Iterator.empty
        else toks.sliding(n).map(s => (docId, s.mkString(" "))).toSet.iterator
      }
      .toDF("doc_id", "shingle")
  }

  private def jaccardFromPairs(pairShingles: DataFrame, counts: DataFrame,
      threshold: Double): DataFrame =
    jaccardFromCommon(pairShingles
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common")), counts, threshold)

  private def jaccardFromCommon(common: DataFrame, counts: DataFrame,
      threshold: Double): DataFrame = {
    common
      .join(counts.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast(DoubleType) / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("common"), col("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs (id_a < id_b, J ≥ threshold).
    * Inverted-index pair generation replaces the O(n²) all-pairs
    * comparison: group by shingle (one shuffle), emit each posting list's
    * ordered pairs, count per pair (second shuffle). Equivalent to the
    * sh⋈sh self-join but without the join's second full shuffle of the
    * shingle table. Hot shingles (stop-phrases) are the skew risk at
    * 100 TB — their posting lists emit k²/2 pairs; aggressive pipelines
    * drop shingles above a document-frequency cap first. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double): DataFrame =
    ngramJaccardPairs(df, id, text, n, threshold, dfCap = 0)

  /** As above with the 100 TB skew mitigation: shingles whose document
    * frequency exceeds `dfCap` (stop-phrases — the k²/2 posting-list
    * explosion) are dropped from pair GENERATION only. Membership counts
    * still use the full shingle sets, so reported Jaccard values are
    * exact; pairs whose every common shingle is hot are missed (recall
    * trade), never mis-scored. The hot contribution is recovered by
    * recounting candidate pairs against ONLY the hot postings (empty when
    * nothing is hot — the cap costs ~nothing until it actually fires),
    * never against the full shingle table. dfCap ≤ 0 disables the cap. */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double, dfCap: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sh = shingleSet(df, id, text, n).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    if (dfCap <= 0) {
      val genPairs = pairsFromPostings(sh)
      // exact path: common = per-pair emission count
      jaccardFromPairs(genPairs, counts, threshold)
    } else {
      // the cap is applied INSIDE pair generation (a posting list longer
      // than dfCap emits nothing — identical pairs to the former
      // anti-join against the hot set, without materializing it): one
      // shuffle of sh replaces the round-15 chain of an EAGER hot-probe
      // job + broadcast anti-join (guide §2.4; the probe also broke plan
      // laziness — ADVICE r15). The hot-recount arm below stays in the
      // plan lazily: when no shingle exceeds the cap, `hot` is empty and
      // AQE's empty-relation propagation collapses the recount joins at
      // runtime (left_outer against ∅ is identity), so the common case
      // pays one tiny aggregation stage over the cached shingle set
      // instead of the old pre-execution probe job.
      val nonHotCommon = pairsFromPostings(sh, dfCap)
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("common"))
      val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select(col("shingle"))
      val hotSh = sh.join(broadcast(hot), Seq("shingle"))
        .select(col("doc_id"), col("shingle"))
      val hotCommon = nonHotCommon.select(col("id_a"), col("id_b"))
        .join(hotSh.select(col("doc_id").as("id_a"), col("shingle").as("sa")),
          Seq("id_a"))
        .join(hotSh.select(col("doc_id").as("id_b"), col("shingle").as("sb")),
          Seq("id_b"))
        .filter(col("sa") === col("sb"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("hot_common"))
      val common = nonHotCommon
        .join(hotCommon, Seq("id_a", "id_b"), "left_outer")
        .select(col("id_a"), col("id_b"),
          (col("common") + coalesce(col("hot_common"), lit(0L))).as("common"))
      jaccardFromCommon(common, counts, threshold)
    }
  }

  /** Inverted-index pair generation: each shingle's sorted posting list
    * emits its ordered pairs (one shuffle, linear in postings). With
    * `dfCap > 0`, a posting list longer than the cap emits NO pairs —
    * exactly the pair set of first anti-joining away hot shingles, but
    * decided per group inside the one existing shuffle; the buffer stops
    * at dfCap+1 docs, so a 100 TB stop-phrase's k-million-row posting
    * list never materializes in memory. */
  private def pairsFromPostings(postings: DataFrame, dfCap: Int = 0): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings.select(col("doc_id"), col("shingle")).as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroups { (_: String, it: Iterator[(Long, String)]) =>
        val cap = if (dfCap > 0) dfCap else Int.MaxValue
        val buf = new scala.collection.mutable.ArrayBuffer[Long](16)
        var over = false
        while (it.hasNext && !over) {
          buf += it.next()._1
          if (buf.length > cap) over = true
        }
        if (over) Iterator.empty
        else {
          val ds = buf.toArray
          java.util.Arrays.sort(ds)
          for {
            i <- ds.indices.iterator
            j <- ((i + 1) until ds.length).iterator
          } yield (ds(i), ds(j))
        }
      }
      .toDF("id_a", "id_b")
  }

  /** Asymmetric n-gram containment (quote/subset duplication):
    * C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|. A short document quoted inside
    * a long one scores ≈1 even when symmetric Jaccard is tiny — the
    * duplication class Jaccard structurally misses, and the standard
    * extra axis of training-corpus dedup. Same linear inverted-index
    * pair generation as ngramJaccardPairs (grouped posting lists, never
    * the n² cross product); each undirected pair fans out to its two
    * directed scores map-side. Emits (id_from, id_to, common,
    * containment) per direction clearing the threshold. */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sh = shingleSet(df, id, text, n).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = pairsFromPostings(sh)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(counts.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(explode(array(
        struct(col("id_a").as("id_from"), col("id_b").as("id_to"),
          col("common"),
          (col("common").cast(DoubleType) / col("n_a")).as("containment")),
        struct(col("id_b").as("id_from"), col("id_a").as("id_to"),
          col("common"),
          (col("common").cast(DoubleType) / col("n_b")).as("containment"))))
        .as("r"))
      .select(col("r.id_from"), col("r.id_to"), col("r.common"),
        col("r.containment"))
      .filter(col("containment") >= threshold)
  }

  /** MinHash + LSH near-dup pairs. k hash functions h_i(s) = xxhash64(i, s);
    * signatures banded (bands × rowsPerBand = k); candidate pairs share a
    * band signature; candidates are exact-verified with true Jaccard ≥
    * threshold, so banding can only lose recall (P(miss) = (1−J^r)^b — for
    * J ≥ 0.9, k=32, b=8, r=4: < 1e-4). Shuffle is keyed by (band, sig):
    * linear in corpus size, never quadratic. */
  def minhashLshPairs(df: DataFrame, id: String, text: String, n: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    val sh = shingleSet(df, id, text, n).cache()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // k min-hashes as k aggregate columns in ONE groupBy(doc) — the
    // shuffle carries one partial row per (partition, doc) instead of the
    // k× row blowup an explode would cost. h_i(s) = xxhash64(i, s).
    val minCols = (0 until numHashes).map(k =>
      min(xxhash64(lit(k), col("shingle"))).as(s"mh$k"))
    val sig = sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    // Band signature: order-independent XOR fold of the band's (re-hashed)
    // minhashes — same values as the previous bit_xor aggregate, computed
    // row-local. Collisions would only add false candidates, which exact
    // verification removes.
    val bandStructs = (0 until bands).map { b =>
      val members = (0 until numHashes).filter(_ % bands == b)
      val sigExpr = members.map(k => xxhash64(lit(k), col(s"mh$k")))
        .reduce(_.bitwiseXOR(_))
      struct(lit(b).as("band"), sigExpr.as("band_sig"))
    }
    val bandSigs = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_sig").as("band_sig"))
    val candidates = bandSigs.as("a").join(bandSigs.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val pairShingles = candidates
      .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("id_b") === col("sb.doc_id") &&
        col("sa.shingle") === col("sb.shingle"))
      .select(col("id_a"), col("id_b"))
    jaccardFromPairs(pairShingles, counts, threshold)
  }

  /** Train/eval SPLIT-LEAKAGE audit: near-duplicate pairs that CROSS a
    * split boundary — the contamination an id-hash split cannot prevent
    * (hash splitting sends near-identical pages to different sides, so
    * the eval split silently contains paraphrases of training documents;
    * GPT-3's dedup post-mortem and every serious data card audit exactly
    * this). Pair generation is [[minhashLshPairs]] (banded LSH, exact-
    * verified, linear shuffle); each side's split label then joins back
    * from a 2-column projection of the corpus (broadcast when it fits,
    * plain equi-join at scale) and only boundary-crossing pairs survive.
    * Emits (id_a, id_b, common, jaccard, split_a, split_b). */
  def splitLeakage(df: DataFrame, id: String, text: String, split: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    val pairs = minhashLshPairs(df, id, text, n, numHashes, bands, threshold)
    val sides = df.select(col(id).cast("long").as("_sid"),
      col(split).as("_split"))
    pairs
      .join(sides.select(col("_sid").as("id_a"), col("_split").as("split_a")),
        Seq("id_a"))
      .join(sides.select(col("_sid").as("id_b"), col("_split").as("split_b")),
        Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("common"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  /** The MinHash band signatures of [[minhashLshPairs]] computed ROW-
    * LOCALLY: tokens → n-gram shingles → per-hash minima → per-band XOR
    * fold, all as expressions over the single text value, emitting
    * (doc_id, band, band_sig). Value-identical to the batch pipeline's
    * band signatures — the same xxhash64(k, shingle) chain over the same
    * tokenization (shingle multiplicity cannot move a min; DedupSpec
    * pins the equality on the fixture docs) — but with ZERO shuffle and
    * no per-document grouping, so it runs unchanged on a STREAMING
    * DataFrame (q169's incremental near-dup) where a groupBy-based
    * signature could not precede stateful pairing. Documents shorter
    * than n tokens emit no rows, as in the batch form. */
  def bandKeys(df: DataFrame, id: String, text: String, n: Int,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val toks = tokens(col(text))
    val withShingles = df
      .select(col(id).as("doc_id"), toks.as("_toks"))
      .filter(size(col("_toks")) >= n)
      .select(col("doc_id"), transform(
        sequence(lit(0), size(col("_toks")) - n),
        i => concat_ws(" ", slice(col("_toks"), i + 1, lit(n)))).as("_sh"))
    val bandStructs = (0 until bands).map { b =>
      val members = (0 until numHashes).filter(_ % bands == b)
      val sigExpr = members.map { k =>
        val mh = array_min(transform(col("_sh"), s => xxhash64(lit(k), s)))
        xxhash64(lit(k), mh)
      }.reduce(_.bitwiseXOR(_))
      struct(lit(b).as("band"), sigExpr.as("band_sig"))
    }
    withShingles
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_sig").as("band_sig"))
  }

  /** Exact-verify an externally-produced candidate pair set: join each
    * (id_a, id_b) back to the corpus shingle sets, recount the
    * intersection from FULL sets, and keep true Jaccard ≥ threshold —
    * the verification tail of [[minhashLshPairs]], exposed for callers
    * that discover candidates elsewhere (q169's streaming bucket state).
    * Banding can only lose recall; this step guarantees precision 1.0. */
  def verifyCandidates(df: DataFrame, candidates: DataFrame, id: String,
      text: String, n: Int, threshold: Double): DataFrame = {
    val sh = shingleSet(df, id, text, n).localCheckpoint()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val cand = candidates.select(col("id_a"), col("id_b"))
    // the candidate doc-id set is bounded by the (small) candidate pair
    // table, while sh is the FULL corpus shingle set — pre-filter sh to
    // candidate members through a broadcast semi-join so the corpus-sized
    // side never shuffles (guide §3.2: reduce the big side before the
    // exchange; the round-15 attempt that shuffled the full shingle table
    // by doc_id measured 2× WORSE and was reverted). Only the recount
    // joins see the filtered sets; `counts` still aggregates FULL sets,
    // so reported Jaccard values are exact and unchanged.
    val ids = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id")))
      .distinct()
    val shCand = sh.join(broadcast(ids), Seq("doc_id"), "left_semi")
    val pairShingles = broadcast(cand)
      .join(shCand.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(shCand.as("sb"), col("id_b") === col("sb.doc_id") &&
        col("sa.shingle") === col("sb.shingle"))
      .select(col("id_a"), col("id_b"))
    jaccardFromPairs(pairShingles, counts, threshold)
  }

  /** 64-bit SimHash per document: each token's xxhash64 votes ±1 on every
    * bit position; the sign of the per-bit vote sum sets the bit. One
    * hash aggregation: 64 conditional sums (one per bit) fold map-side, so
    * nothing ever materializes occurrence×64 rows — the shuffle carries one
    * 65-column partial row per (partition, doc). Bit b's vote sum is
    * s = 2·Σ cnt·bit_b − Σ cnt, so the bit is set iff 2·w_b > tot. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    // identical tokens cast identical votes: count per (doc, token) first
    // (fan out the unsplittable scan before the tokenize+explode map side
    // of the groupBy — guide §2.5; no-op at scale)
    val docTok = Scale.fanOut(
        df.select(col(id).as("doc_id"), col(text).as("text")), "doc_id")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map(b =>
      sum(col("cnt") * expr(s"(h >> $b) & 1")).as(s"w$b"))
    docTok.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("tot"), bitSums: _*)
      .select(col("doc_id"),
        (0 until 64).map(b =>
            when(lit(2) * col(s"w$b") > col("tot"), lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (≤ 3 for
    * guaranteed recall: with 4 16-bit chunks, ≤3 differing bits leave at
    * least one chunk identical — pigeonhole). Chunk-keyed equi-join, then
    * exact popcount filter. */
  def simhashPairs(df: DataFrame, id: String, text: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for <= 3")
    val sigs = simhash(df, id, text)
    val chunked = sigs
      .withColumn("c", explode(sequence(lit(0), lit(3))))
      .withColumn("chunk", expr("(simhash >> (c * 16)) & 65535"))
    chunked.as("a").join(chunked.as("b"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Decontamination (benchmark-overlap detection): flag corpus documents
    * sharing at least `minShared` distinct word n-grams with any benchmark
    * document — the training-data hygiene pass that keeps eval sets out
    * of the corpus. Inverted-index join on the shingle (one shuffle keyed
    * by content, linear in corpus size); the benchmark side is tiny, so
    * its shingle set broadcasts. */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame, id: String,
      text: String, n: Int, minShared: Int): DataFrame = {
    val c = shingleSet(corpus, id, text, n)
    val b = shingleSet(bench, id, text, n)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    c.join(broadcast(b), Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The Bloom-prefilter half of [[bloomContaminationPairs]], exposed so
    * the certificate spec can measure it: corpus shingles whose probe of
    * the benchmark Bloom filter answers "maybe" (every true overlap, plus
    * the filter's false-positive fraction). The filter is built with
    * `stat.bloomFilter` (bit-OR construction — insertion-order
    * independent, so the bit array and therefore the candidate set are
    * deterministic) and shipped once per executor as a broadcast, probed
    * by a typed filter (the SURVEY §2.11 `mapPartitions`-class kernel:
    * a sketch probe has no Catalyst-expression form on the public API). */
  def bloomShingleCandidates(corpus: DataFrame, bench: DataFrame,
      id: String, text: String, n: Int, fpp: Double = 0.01): DataFrame =
    bloomCandidatesFrom(corpus,
      shingleSet(bench, id, text, n).localCheckpoint(), id, text, n, fpp)

  /** Core of the prefilter, taking an already-materialized benchmark
    * shingle set so the sizing count, the filter build, and the caller's
    * equi-join all read ONE tokenize+shingle pass of the bench side. */
  private def bloomCandidatesFrom(corpus: DataFrame, benchShingles: DataFrame,
      id: String, text: String, n: Int, fpp: Double): DataFrame = {
    // distinct-count sizes the filter; bounded by the benchmark side,
    // which is the small side by the operator's contract
    val nDistinct =
      math.max(benchShingles.select(col("shingle")).distinct().count(), 1L)
    val bloom = benchShingles.stat.bloomFilter("shingle", nDistinct, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    shingleSet(corpus, id, text, n)
      .filter((r: org.apache.spark.sql.Row) =>
        bc.value.mightContainString(r.getAs[String]("shingle")))
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of
    * [[contaminationPairs]]. At corpus scale the expensive half of the
    * exact operator is shuffling EVERY corpus shingle into the
    * inverted-index join; here the benchmark shingle set is distilled
    * into a broadcast Bloom filter consulted BEFORE the exchange, so
    * only true overlaps plus the fp fraction (~fpp of clean shingles)
    * ever shuffle. False positives die in the exact equi-join that
    * follows — the Bloom changes the bytes in flight, not the answer,
    * which is why this query sits under the full hash gate against the
    * exact SQL oracle. */
  def bloomContaminationPairs(corpus: DataFrame, bench: DataFrame,
      id: String, text: String, n: Int, minShared: Int,
      fpp: Double = 0.01): DataFrame = {
    val b = shingleSet(bench, id, text, n)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    bloomShingleCandidates(corpus, bench, id, text, n, fpp)
      .join(broadcast(b), Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond"
    * — the web-scale standard): each round is two grouped min-aggregations
    * over the edge set, and the round count is O(log n) EVEN on
    * path-shaped graphs, where plain min-label propagation needs
    * O(diameter) rounds. Input (src, dst) edges; output (node, label)
    * with label = the component's min node id. localCheckpoint cuts the
    * growing lineage every round. Returns the labels and the round count
    * (the convergence witness the spec asserts on). */
  private[graft] def starContract(edges0: DataFrame,
      maxIters: Int = 50): (DataFrame, Int) = {
    // canonical undirected edge set: a < b, no self-loops
    var edges = edges0
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()

    // large-star: around every node u, hang all LARGER neighbors off
    // m = min(Γ(u) ∪ {u}) — long chains fold toward their minimum
    def largeStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m = dir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      dir.join(m, Seq("u"))
        .filter(col("v") > col("u") && col("m") =!= col("v"))
        .select(col("m").as("a"), col("v").as("b")) // m ≤ u < v
        .distinct()
    }
    // small-star: around every node u, rewire all SMALLER neighbors (and
    // u itself) onto their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(col("b").as("u"), col("a").as("v")) // v < u
      val m = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(m, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b")) // m < v
        .union(m.select(col("m").as("a"), col("u").as("b"))) // m < u
        .distinct()
    }

    // fixpoint: edge set stable across a full large+small round. A cheap
    // scalar witness (count + endpoint sums) gates the loop; when it
    // claims stability, TWO exact checks confirm before exiting: the edge
    // sets really are identical (symmetric EXCEPT — a sum-collision on a
    // non-fixpoint state must not ship labels off a half-contracted
    // graph, e.g. (1,3),(2,3) would mislabel node 2), and the result is a
    // star forest (no hub is also a member) — stars whose hubs are
    // hub-only are provably the per-component minima, since contraction
    // preserves connectivity round over round
    def witness(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), sum(col("a")), sum(col("b"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var w = witness(edges)
    var rounds = 0
    var done = w._1 == 0
    while (!done && rounds < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val wNext = witness(next)
      if (wNext == w)
        done = next.exceptAll(edges).isEmpty &&
          edges.exceptAll(next).isEmpty &&
          next.select(col("a")).distinct()
            .join(next.select(col("b").as("hub_as_member")),
              col("a") === col("hub_as_member"), "left_semi")
            .isEmpty
      edges = next
      w = wNext
      rounds += 1
    }
    // never ship labels off a half-contracted graph: 50 rounds covers any
    // physically possible input (2^50 nodes), so non-convergence means a
    // bug or corruption — fail loudly
    require(done,
      s"starContract did not reach the star-forest fixpoint in $rounds rounds")
    // at the fixpoint the edges form stars (min → member)
    val labels = edges.select(col("b").as("node"), col("a").as("label"))
      .union(edges.select(col("a").as("node"), col("a").as("label")))
      .groupBy(col("node")).agg(min(col("label")).as("label"))
    (labels, rounds)
  }

  /** Min-label propagation: one join + one min-aggregate per round,
    * O(diameter) rounds — the cheap path for the near-dup regime, where
    * cluster diameters are single digits. The label sum strictly
    * decreases, so it doubles as the convergence witness. Returns None
    * when the round budget ran out before the fixpoint (diameter larger
    * than expected — e.g. a chain of incremental edits): the caller must
    * fall back to star contraction rather than ship truncated labels. */
  private def propagateLabels(edges0: DataFrame,
      maxIters: Int): Option[DataFrame] = {
    val pairs = edges0.select(col("src"), col("dst"))
    val edges = pairs.union(pairs.select(col("dst"), col("src")))
      .toDF("src", "dst").localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    def labelSum(): Long = labels.agg(sum(col("label"))).head().getLong(0)
    var prevSum = Long.MaxValue
    var curSum = if (labels.isEmpty) 0L else labelSum()
    var it = 0
    while (curSum < prevSum && it < maxIters) {
      val prop = edges.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      labels = labels.select(col("node"), col("label")).union(prop)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint()
      prevSum = curSum
      curSum = labelSum()
      it += 1
    }
    if (curSum == prevSum || curSum == 0L) Some(labels) else None
  }

  /** Edge count above which nearDupClusters switches from min-label
    * propagation to star contraction: below it, per-round job overhead
    * dominates and the diameter is small; above it, the O(log n) bound
    * is what matters. */
  private[graft] val StarContractEdgeThreshold = 1000000L

  /** Cluster resolution over the near-dup pair graph — the dedup endgame:
    * connected components with the component's MIN doc id as the cluster
    * id (canonical survivor), isolated docs forming their own cluster.
    * Gated by graph size: fixture-scale graphs take min-label propagation
    * (tiny diameter, half the jobs per round); big graphs take the
    * large-star/small-star contraction whose O(log n) round bound is what
    * survives web-scale dedup — both produce identical labels. */
  def nearDupClusters(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double, maxIters: Int = 50): DataFrame = {
    val pairs = ngramJaccardPairs(df, id, text, n, threshold)
      .select(col("id_a"), col("id_b")).toDF("src", "dst").localCheckpoint()
    // small graphs try cheap propagation first, but a deep-diameter graph
    // (edge count says nothing about diameter) falls through to the
    // contraction rather than returning truncated labels
    val labels =
      (if (pairs.count() <= StarContractEdgeThreshold)
        propagateLabels(pairs, maxIters)
      else None).getOrElse(starContract(pairs, maxIters)._1)
    df.select(col(id).as("doc_id")).distinct()
      .join(labels.select(col("node").as("doc_id"), col("label")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** All n-token windows of every document: (doc_id, start, window),
    * start 0-based in token positions; tokenization is the SQL-exact
    * replica of TextFunctions.tokens so start indices line up with the
    * oracle on any whitespace. */
  private def windowsOf(df: DataFrame, id: String, text: String,
      n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // same fan-out rationale as shingleSet: widen the unsplittable scan
    // before the window flatMap (guide §2.5; no-op at scale)
    Scale.fanOut(df.select(col(id).as("doc_id"), col(text).as("text")),
        "doc_id")
      .as[(Long, String)]
      .flatMap { case (docId, t) =>
        val toks = graft.functions.TextFunctions.tokenizeLikeSql(t)
        if (toks.length < n) Iterator.empty
        else (0 to toks.length - n).iterator.map(i =>
          (docId, i.toLong, toks.slice(i, i + n).mkString(" ")))
      }
      .toDF("doc_id", "start", "window")
  }

  /** Merge duplicated window starts into maximal covered regions
    * (gaps-and-islands per doc): windows at a < b cover contiguous text
    * iff b ≤ a + n. Emits (doc_id, span_start, span_end, n_windows),
    * token positions, end exclusive. */
  private def mergeSpans(hits: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    hits
      .withColumn("prev", lag(col("start"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("start") - col("prev") > n, 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + n).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Exact repeated-substring spans — the suffix-array dedup modality of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), re-expressed as keyed shuffles: every maximal token region
    * covered by n-token windows occurring MORE THAN ONCE in the corpus
    * (within or across documents). Exact form: one groupBy over the
    * window STRINGS (the verbatim-repeat relation, no false positives by
    * construction), then a per-doc islands merge. This is the oracle
    * baseline; [[duplicateSpansHashed]] is the form whose shuffle
    * survives 100 TB. */
  def duplicateSpans(df: DataFrame, id: String, text: String,
      n: Int): DataFrame = {
    val w = windowsOf(df, id, text, n)
    val dup = w.groupBy(col("window")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("window"))
    mergeSpans(w.join(dup, Seq("window")).select(col("doc_id"), col("start")), n)
  }

  /** Scale path for [[duplicateSpans]]: identical pipeline but the
    * exchange carries (xxhash64(window), doc, start) — 8-byte keys
    * instead of ~10-token strings, an order of magnitude less shuffle
    * volume. Accepts 64-bit collision odds (≈ k²/2⁶⁵: ~3·10⁻⁸ at a
    * million distinct windows), the standard production trade; the exact
    * form remains the oracle. */
  def duplicateSpansHashed(df: DataFrame, id: String, text: String,
      n: Int): DataFrame = {
    val w = windowsOf(df, id, text, n)
      .select(col("doc_id"), col("start"), xxhash64(col("window")).as("h"))
    val dup = w.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select(col("h"))
    mergeSpans(w.join(dup, Seq("h")).select(col("doc_id"), col("start")), n)
  }

  /** Embedding-cosine near-dup pairs (cos ≥ threshold, id_a < id_b).
    * All-pairs with a broadcast side here; at corpus scale the same verify
    * runs behind LSH/IVF candidate generation (see Similarity). */
  def embeddingNearDup(df: DataFrame, id: String, vec: String,
      threshold: Double): DataFrame = {
    // the streamed (probe) side of the nested-loop join below does all the
    // dot-product CPU — widen it past the unsplittable scan (guide §2.5)
    val v = Scale.fanOut(df.select(col(id).as("vid"),
      VectorFunctions.normalized(VectorFunctions.toDouble(col(vec))).as("e")),
      "vid")
    val a = v.select(col("vid").as("id_a"), col("e").as("ea"))
    val b = v.select(col("vid").as("id_b"), col("e").as("eb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.dot(col("ea"), col("eb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): partition the corpus by a trained coarse quantizer
    * (k-means cells — [[Similarity.trainCells]]), compare pairs ONLY
    * within a cell, and drop the higher id of every pair with cosine ≥
    * `tau`. Returns the ids to DROP.
    *
    * Scale shape: the all-pairs comparison is confined to cells of
    * ~|corpus|/nCells vectors, so total work is |corpus|²/nCells instead
    * of |corpus|² — and each cell's pair generation is an independent
    * shuffle partition. Approximate by construction (a duplicate pair
    * split across two cells is missed — certified driver-visibly in q133);
    * every emitted drop IS a true near-dup under the exact threshold, so
    * precision is 1.0 by construction, like the LSH verify path.
    *
    * `spill` > 1 indexes each vector under its `spill` closest cells
    * (Similarity.spillAssign — the same boundary-point recall fix the IVF
    * index uses): a pair is compared if the two vectors SHARE ANY cell,
    * so duplicates straddling a cell edge stop being missed. Work grows
    * ×spill², precision stays 1.0 (every candidate is still
    * exact-verified). */
  def semanticDedup(df: DataFrame, id: String, vec: String,
      nCells: Int, tau: Double, spill: Int = 2): DataFrame =
    cellNearDupPairs(df, id, vec, nCells, tau, spill)
      .select(col("id_b").as("drop_id"))
      .distinct()

  /** Cell-partitioned near-dup PAIRS — [[semanticDedup]]'s candidate
    * machinery surfaced as a pair relation (id_a, id_b, cosine), the
    * schema of the exact [[embeddingNearDup]] and of the banded
    * `Similarity.lshNearDupPairs`. This is the registered scale path for
    * the MODERATE-threshold regime (q88, cos ≥ 0.45): sign-LSH banding is
    * ρ-limited there (per-bit agreement at cos 0.45 is only 0.65, so any
    * banding that holds recall admits ~n^1.6 candidates and a fixed
    * bucket count degenerates to all-pairs — measured slope 3.0 on the
    * sf1→sf10 decade), while trained cells confine the pairwise scan to
    * within-cell: with nCells ∝ corpus the n²/nCells work stays LINEAR
    * (measured slope 0.58 over the sf1→sf10 decade in round 12).
    *
    * Every candidate is exact-verified against `threshold` at the cell
    * join, so precision is 1.0 by construction; recall is the spill/cell
    * tradeoff certified driver-visibly (q97). A pair met through several
    * shared spill cells carries a bit-identical cosine, so the pair dedup
    * keeps one deterministic row. */
  def cellNearDupPairs(df: DataFrame, id: String, vec: String,
      nCells: Int, threshold: Double, spill: Int = 2): DataFrame = {
    val (assigned, cents) =
      Similarity.trainCellsWithCentroids(df, id, vec, nCells)
    val v = df.select(col(id).as("vec_id"),
        VectorFunctions.normalized(VectorFunctions.toDouble(col(vec))).as("e"))
      .join(assigned, Seq("vec_id"))
    val memb =
      if (spill <= 1) v
      else {
        val spark = df.sparkSession
        import spark.implicits._
        Similarity.spillAssign(v, broadcast(cents.toDF("cell", "centroid")),
          spill)
      }
    val a = memb.select(col("cell"), col("vec_id").as("id_a"), col("e").as("ea"))
    val b = memb.select(col("cell"), col("vec_id").as("id_b"), col("e").as("eb"))
    // threshold filter runs AT the cell join, so the pair-dedup exchange
    // shuffles only (id_a, id_b, cosine) scalars for surviving near-dups
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.dot(col("ea"), col("eb")).as("cosine_raw"))
      .filter(col("cosine_raw") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("cosine_raw"), 6).as("cosine"))
  }

  /** [[cellNearDupPairs]] with the cell count SIZED TO THE CORPUS —
    * nCells = max(8, ⌈n / vectorsPerCell⌉) from one cheap count (parquet
    * row-group metadata at the sources), the invariant that keeps the
    * within-cell n²/nCells work linear as the corpus grows. This is the
    * form a registered production query should use: a fixture-tuned
    * constant cell count is exactly the scale bug the fixed 16-bucket
    * LSH banding had.
    *
    * Defaults measured on the fixture decade (cos 0.45; `Probe cert
    * q97_neardup_cells_recall` prints the registered pair counts): spill=4
    * / 2000 vectors-per-cell holds pair recall 1.000 /
    * 1.000 / 0.993 at 500 / 2 k / 20 k vectors while per-vector work
    * stays a constant ~spill²·vectorsPerCell dot products. spill=2
    * (semanticDedup's default; half the index) measured 0.49–0.79 at
    * the same threshold — too lossy for a pair-level contract. */
  def cellNearDupPairsAuto(df: DataFrame, id: String, vec: String,
      threshold: Double, spill: Int = 4, vectorsPerCell: Int = 2000): DataFrame = {
    val n = df.count()
    val nCells = math.max(8L, (n + vectorsPerCell - 1) / vectorsPerCell).toInt
    cellNearDupPairs(df, id, vec, nCells, threshold, spill)
  }

  /** Exact embedding near-dup pairs TOUCHING a deterministic hash-anchor
    * subset — the certificate-scale form of [[embeddingNearDup]]'s
    * all-pairs ground truth. cap = 2048 saturates BY the sf0.1 gate
    * (n = 2000 ≤ cap keeps every vector an anchor there), so the
    * n² → n·cap work transition is complete before the first sweep
    * decade and every decade after measures the linear n·cap regime —
    * a larger cap would smear the transition across sf0.1 → sf1 and
    * read as a superlinear certificate slope. Anchors are the ~`cap` vectors with
    * xxhash64(id) ≡ 0 (mod ⌈n/cap⌉); the result is every exact pair with
    * an anchor on EITHER end, computed as one broadcast scan (n·cap dot
    * products — linear in the corpus, a ground-truth arm that stays
    * runnable at every decade, vs the n²/2 all-pairs form that takes ~28
    * min/rep at 200 k vectors). When n ≤ cap every vector is an anchor
    * and the result IS the full exact pair set, so fixture-scale gates
    * are unchanged by the capping. */
  def embeddingNearDupAnchored(df: DataFrame, id: String, vec: String,
      threshold: Double, cap: Int = 2048): DataFrame = {
    val n = df.count()
    val stride = math.max(1L, n / cap)
    // the streamed side of the broadcast scan carries the n·cap dot
    // products — widen it past the unsplittable scan (guide §2.5)
    val v = Scale.fanOut(df.select(col(id).cast("long").as("vid"),
      VectorFunctions.normalized(VectorFunctions.toDouble(col(vec))).as("e")),
      "vid")
    val anch = v.filter(pmod(xxhash64(col("vid")), lit(stride)) === 0)
      .select(col("vid").as("aid"), col("e").as("ae"))
    v.join(broadcast(anch), col("vid") =!= col("aid"))
      .select(least(col("vid"), col("aid")).as("id_a"),
        greatest(col("vid"), col("aid")).as("id_b"),
        VectorFunctions.dot(col("e"), col("ae")).as("cosine_raw"))
      .filter(col("cosine_raw") >= threshold)
      // an anchor–anchor pair arrives once from each side with a
      // bit-identical cosine; keep one row
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("cosine_raw"), 6).as("cosine"))
  }

  /** Anchor predicate matching [[embeddingNearDupAnchored]]'s subset for
    * a corpus of `n` rows — callers restrict an APPROXIMATE pair set to
    * pairs touching the same anchors before comparing against the
    * anchored ground truth. */
  def anchorTouches(n: Long, idA: org.apache.spark.sql.Column,
      idB: org.apache.spark.sql.Column, cap: Int = 2048): org.apache.spark.sql.Column = {
    val stride = math.max(1L, n / cap)
    pmod(xxhash64(idA.cast("long")), lit(stride)) === 0 ||
      pmod(xxhash64(idB.cast("long")), lit(stride)) === 0
  }
}
