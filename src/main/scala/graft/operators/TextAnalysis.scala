package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is pure column expressions
  * (`org.apache.spark.sql.functions` + higher-order array functions), so
  * the whole stage stays inside whole-stage codegen, partitions trivially
  * (no shuffle — per-row narrow transforms), and scales linearly with
  * input splits: at 100 TB each executor maps its own parquet splits with
  * zero coordination.
  */
object TextAnalysis {

  /** Whitespace tokens: maximal non-whitespace runs — never an empty
    * token. The filter (not just trim) matters: `F.trim` strips SPACES
    * only, so tab/newline-led text would otherwise yield an empty first
    * token from the regex split (and an empty array for empty text falls
    * out naturally: split('') = [''] → filtered away). */
  def tokens(text: Column): Column =
    F.filter(F.split(F.trim(text), "\\s+"), (t: Column) => F.length(t) > 0)

  def tokenCount(text: Column): Column = F.size(tokens(text))

  /** Unicode-canonical text normalization — NFC composition, ASCII
    * whitespace runs collapsed to single spaces, ends trimmed (see
    * [[graft.functions.NormalizeText]] for the exact contract and the
    * DuckDB replay). The canonicalization pass run BEFORE fingerprints
    * and dedup so byte-different spellings of identical content (e +
    * combining accent vs composed é, tab runs vs spaces) hash alike.
    * Codegen'd native expression — requires the session to carry
    * [[graft.functions.GraftExtensions]] (Spark has no composable NFC;
    * an unregistered session fails loudly at analysis, never degrades
    * silently). */
  def normalizeText(text: Column): Column =
    F.call_function("text_normalize", text)

  /** HTML/markup → text extraction (the web-crawl ingest step that
    * precedes every quality/dedup pass): drops `<script>`/`<style>`
    * elements WITH their content, strips comments and all remaining
    * tags (each replaced by a space so adjacent words never merge),
    * decodes the common named entities (`&amp;` deliberately LAST so
    * `&amp;lt;` decodes to the literal `&lt;`, not `<`), then collapses
    * whitespace runs and trims. Pure narrow `regexp_replace`/`replace`
    * chain — whole-stage codegen, no shuffle, linear in corpus bytes;
    * every construct (inline `(?is)` flags, non-greedy `.*?`, `\b`,
    * `\s`) behaves identically in Java regex and RE2, so a DuckDB
    * oracle replays the extraction byte-for-byte. Not a sanitizer: a
    * `<script>` closed by `</style>` matches cross-element (documented
    * single-pass semantics), which real extraction pipelines accept. */
  def stripMarkup(html: Column): Column = {
    val noBlocks = F.regexp_replace(html,
      "(?is)<(?:script|style)\\b[^>]*>.*?</(?:script|style)>", " ")
    val noComments = F.regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = F.regexp_replace(noComments, "(?s)<[^>]+>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        F.call_function("replace", c, F.lit(ent), F.lit(ch)) }
    F.trim(F.regexp_replace(decoded, "\\s+", " "))
  }

  /** Corpus-health HEAD COVERAGE: for each k, the fraction of all token
    * occurrences covered by the top-k token types — the integer-exact
    * Zipf diagnostic (a healthy natural-language corpus covers a large
    * head share; a degenerate or template-dominated one covers far
    * more; a boilerplate-free deduped one less). A least-squares Zipf
    * slope needs float logs whose summation order differs across
    * engines; coverage is exact integer counts plus ONE final division
    * of identical operands, so the oracle replays it bit-for-bit.
    *
    * Scale shape: one keyed token count (map-side combined), then a
    * `TakeOrderedAndProject` top-max(k) — a bounded per-partition
    * top-k merge, never a global sort — and a window over that
    * max(k)-row frame (bounded single partition by construction).
    * Returns (k, covered_tokens, total_tokens, coverage@6dp). */
  def headCoverage(df: DataFrame, textCol: String,
                   ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive, got $ks")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(F.explode(tokens(F.lower(F.col(textCol)))).as("_tok"))
      .groupBy("_tok").agg(F.count(F.lit(1)).as("_n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(F.col("_n").desc, F.col("_tok"))
    val ranked = counts.orderBy(F.col("_n").desc, F.col("_tok"))
      .limit(ks.max)
      .withColumn("_rank", F.row_number().over(w))
    val total = counts.agg(F.sum("_n").as("_total"))
    ks.toDF("k")
      .join(ranked, F.col("_rank") <= F.col("k"))
      .groupBy("k").agg(F.sum("_n").as("covered_tokens"))
      .crossJoin(F.broadcast(total))
      .select(F.col("k"), F.col("covered_tokens"),
        F.col("_total").as("total_tokens"),
        F.round(F.col("covered_tokens").cast("double") /
          F.col("_total").cast("double"), 6).as("coverage"))
  }

  /** BPE-ish subword count: word-boundary pieces plus punctuation tokens,
    * approximated as regex splits on non-alphanumerics — a cheap,
    * deterministic proxy for tokenizer cost estimation at corpus scale. */
  def subwordCount(text: Column): Column =
    F.size(F.filter(F.split(F.lower(text), "[^a-z0-9]+"), (t: Column) => F.length(t) > 0))

  // ---- Byte-pair encoding: a REAL trained tokenizer (not the proxy
  //      above) — train on the corpus, encode with the learned merges.
  //      The trainer follows the standard shape every production BPE
  //      trainer uses (Sennrich'16; HF/SentencePiece): learn from the
  //      WORD-FREQUENCY table, not the corpus — the table is bounded by
  //      vocabulary (heavy-hitter capped), so the driver loop's cost is
  //      corpus-size-INDEPENDENT: at 100 TB only the one distributed
  //      word-count pass touches the data. ----

  /** The BPE pre-tokenizer: lowercase `[a-z0-9]+` runs — exactly the
    * [[subwordCount]] splitter, so the oracle replay and the corpus
    * stats agree on word boundaries. */
  def bpeWords(text: Column): Column =
    F.filter(F.split(F.lower(text), "[^a-z0-9]+"), (t: Column) => F.length(t) > 0)

  /** Distributed word-frequency table — the only pass over the corpus
    * the trainer makes. Shuffles (word, count) partials, never text. */
  def bpeWordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(F.explode(bpeWords(F.col(textCol))).as("word"))
      .groupBy("word").agg(F.count(F.lit(1)).as("cnt"))

  /** One left-to-right, non-overlapping application of merge `(a, b)`
    * to a word's symbols — the textbook merge step ('aaa' under (a,a)
    * becomes [aa, a]). Shared by the trainer and the differential spec
    * (the sequential-application encoder it cross-checks against
    * [[graft.functions.BpeEncodeExpr]]'s greedy-by-rank one). */
  private[graft] def bpeApplyMerge(syms: Array[String],
                                   a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Train `numMerges` BPE merges on the corpus. One distributed
    * word-count, then the standard driver loop over the word-frequency
    * table: count adjacent symbol pairs (weighted by word frequency),
    * take the argmax — ties broken (count DESC, pair ASC), the order a
    * SQL oracle replays — apply, repeat. Stops early when no pair
    * repeats. `maxWords` bounds the driver table to the most frequent
    * words (count DESC, word ASC): a power-law vocabulary's tail
    * contributes negligible pair mass, and the cap makes driver memory
    * explicit and corpus-size-free. Returns the merges in rank order. */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 1 << 20): Seq[(String, String)] =
    bpeTrainFromFreqs(bpeWordFreqsTop(docs, textCol, maxWords), numMerges)

  /** The trainer's ONE distributed pass, separated so the corpus-scan
    * cost and the driver merge loop can be measured independently (the
    * bench's 32k-merge probe does): the word-frequency table collected
    * to the driver, bounded to the `maxWords` most frequent words
    * (count DESC, word ASC — the [[bpeTrain]] tiebreak). */
  def bpeWordFreqsTop(docs: DataFrame, textCol: String,
                      maxWords: Int = 1 << 20): Array[(String, Long)] =
    bpeWordFreqs(docs, textCol)
      .orderBy(F.col("cnt").desc, F.col("word").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** Minimal open-addressing long→long map for the trainer's pair
    * counts (round 18, second profile pass): linear probing, power-of-2
    * capacity, ≤50% load, BACKWARD-SHIFT deletion (no tombstones — the
    * table stays dense across the loop's constant insert/remove churn),
    * a state array so key 0 needs no sentinel. Only what the merge
    * loop needs: get-or-zero, put, remove, foreachEntry. LongMap's
    * Option-path boxing and repack churn were ~25% of the remaining
    * loop time in the sampled profile. */
  private final class LongCountMap(expected: Int) {
    private var cap = {
      var c = 16
      while (c < expected * 2 && c < (1 << 30)) c <<= 1
      c
    }
    private var mask = cap - 1
    private var ks = new Array[Long](cap)
    private var vs = new Array[Long](cap)
    private var st = new Array[Byte](cap)
    private var n = 0
    @inline private def slot(k: Long): Int =
      java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask
    def get(k: Long): Long = {
      var i = slot(k)
      while (st(i) == 1) {
        if (ks(i) == k) return vs(i)
        i = (i + 1) & mask
      }
      0L
    }
    def put(k: Long, v: Long): Unit = {
      if ((n + 1) * 2 > cap) grow()
      var i = slot(k)
      while (st(i) == 1 && ks(i) != k) i = (i + 1) & mask
      if (st(i) == 0) { st(i) = 1; ks(i) = k; n += 1 }
      vs(i) = v
    }
    def remove(k: Long): Unit = {
      var i = slot(k)
      while (st(i) == 1 && ks(i) != k) i = (i + 1) & mask
      if (st(i) == 0) return
      // classic linear-probe backward shift: pull forward any entry
      // whose probe chain passes through the vacated slot
      var j = i
      var done = false
      while (!done) {
        j = (j + 1) & mask
        if (st(j) == 0) { st(i) = 0; n -= 1; done = true }
        else {
          val h = slot(ks(j))
          if (((j - h) & mask) >= ((j - i) & mask)) {
            ks(i) = ks(j); vs(i) = vs(j); i = j
          }
        }
      }
    }
    def foreachEntry(f: (Long, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) { if (st(i) == 1) f(ks(i), vs(i)); i += 1 }
    }
    private def grow(): Unit = {
      val oks = ks; val ovs = vs; val ost = st; val ocap = cap
      cap <<= 1; mask = cap - 1
      ks = new Array[Long](cap); vs = new Array[Long](cap)
      st = new Array[Byte](cap); n = 0
      var i = 0
      while (i < ocap) { if (ost(i) == 1) put(oks(i), ovs(i)); i += 1 }
    }
  }

  /** The driver merge loop over a collected word-frequency table — the
    * corpus-size-INDEPENDENT half of [[bpeTrain]].
    *
    * INCREMENTAL pair bookkeeping (the standard trainer optimization):
    * a global pair -> weighted count map plus pair -> word-index
    * postings. Each merge touches only the words CONTAINING the chosen
    * pair, and within a touched word only the adjacencies AROUND each
    * merge site change — five count updates per site (left-old,
    * left-new, the pair itself, right-old, right-new) applied straight
    * to the global map, instead of a whole-word −old/+new delta pass
    * (~2·len map ops per touch; sampling a 32k-merge run showed half
    * its time in that pass). Cost is O(merges · sites), vocabulary-
    * bounded, never corpus-bounded. Symbols are INTERNED to int ids and
    * pairs keyed as packed longs in a LongMap: the first cut keyed
    * everything by (String, String) tuples, and a measured 32k-merge
    * run over a 50k-word vocabulary spent >3 minutes hashing strings
    * and collecting tuple garbage — interned keys are ~20x faster.
    * Determinism is untouched: counts after each round are identical
    * to a full recount (the differential spec and the q278/q288 oracle
    * replays pin it), and tie-breaks still compare symbol STRINGS
    * (count DESC, pair ASC). */
  def bpeTrainFromFreqs(freqs: Array[(String, Long)],
                        numMerges: Int): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    // symbol interning: id -> string (append-only) + string -> id.
    // Distinct merge paths producing the same string ("abc" via (ab,c)
    // or (a,bc)) intern to the SAME id — matching string-keyed
    // semantics, where equal strings are one symbol.
    val symStr = scala.collection.mutable.ArrayBuffer.empty[String]
    // packed 8-char prefix per symbol, byte-per-char big-endian, so the
    // heap tie-break is ONE long compare except on true prefix ties:
    // for chars <= 0xFE the packed order IS String.compareTo order
    // (shorter prefixes pad with 0, which sorts first, matching
    // "ab" < "abc"); any symbol with a wider char gets -1 = "always
    // full-compare". The other half of the sampled 32k-merge run lived
    // in PriorityQueue.fixDown comparing tie strings char-by-char.
    val symKey = scala.collection.mutable.ArrayBuffer.empty[Long]
    val symId = scala.collection.mutable.HashMap.empty[String, Int]
    def packKey(s: String): Long = {
      var k = 0L; var i = 0
      while (i < 8) {
        val c: Long = if (i < s.length) s.charAt(i).toLong else 0L
        if (c > 0xFEL) return -1L
        k = (k << 8) | c
        i += 1
      }
      k
    }
    def intern(s: String): Int =
      symId.getOrElseUpdate(s,
        { symStr += s; symKey += packKey(s); symStr.length - 1 })
    // string order of two interned symbols; packed keys short-circuit
    @inline def cmpSym(a: Int, b: Int): Int =
      if (a == b) 0
      else {
        val ka = symKey(a); val kb = symKey(b)
        if (ka >= 0L && kb >= 0L && ka != kb) { if (ka < kb) -1 else 1 }
        else symStr(a).compareTo(symStr(b))
      }
    val words: Array[Array[Int]] =
      freqs.map { case (w, _) => w.toCharArray.map(c => intern(c.toString)) }
    val wcnt: Array[Long] = freqs.map(_._2)
    @inline def pk(a: Int, b: Int): Long =
      (a.toLong << 32) | (b.toLong & 0xFFFFFFFFL)
    // PRESIZED maps (round-18 profile: LongMap.repack during growth was
    // ~10% of the 32k-merge loop) — sized to the initial adjacency
    // count, the right order of magnitude for the steady state
    val sizeHint = {
      val adj = words.foldLeft(0L)((a, w) => a + math.max(0, w.length - 1))
      math.max(1 << 10, math.min(1 << 21, adj)).toInt
    }
    val counts = new LongCountMap(sizeHint)
    // pair -> word-index postings; appends may duplicate (multiple
    // occurrences, revisits) — the consumer dedupes, and stale entries
    // for pairs a later merge removed are tolerated because the apply
    // step re-checks adjacency
    val where = new scala.collection.mutable.LongMap[
      scala.collection.mutable.ArrayBuffer[Int]](sizeHint)
    // lazy-invalidated max-heap over (count, pair) SNAPSHOTS — the
    // textbook replacement for an O(pairs) argmax scan per merge, with
    // the push discipline that keeps it small: INCREMENTS push their
    // new value; DECREMENTS push NOTHING (the stale higher snapshot
    // stays in the heap and, when it surfaces, is re-inserted at the
    // live count — so the true max is always reachable without
    // ballooning the heap by one entry per touched symbol).
    // Ordering: highest count first, then lexicographically SMALLEST
    // pair by symbol STRING (the trainer/oracle tiebreak — ids are
    // allocation order, not lexicographic).
    // HAND-ROLLED over two primitive arrays (round-18 profile: the
    // boxed PriorityQueue's Tuple3 entries + varargs enqueue were ~10%
    // of the loop). Equal-priority entries are exact DUPLICATES here
    // (the tiebreak totally orders distinct pairs, and interning makes
    // string-equal pairs id-equal), so pop order — the one thing a
    // binary heap leaves unspecified — cannot affect the result.
    var hCnt = new Array[Long](1 << 16)
    var hPair = new Array[Long](1 << 16)
    var hN = 0
    // true = entry i outranks entry j (higher count, then smaller pair)
    @inline def hBefore(ci: Long, pi: Long, cj: Long, pj: Long): Boolean =
      if (ci != cj) ci > cj
      else {
        val c = cmpSym((pi >>> 32).toInt, (pj >>> 32).toInt)
        if (c != 0) c < 0
        else cmpSym(pi.toInt, pj.toInt) < 0
      }
    def hPush(c: Long, p: Long): Unit = {
      if (hN == hCnt.length) {
        hCnt = java.util.Arrays.copyOf(hCnt, hN << 1)
        hPair = java.util.Arrays.copyOf(hPair, hN << 1)
      }
      var i = hN; hN += 1
      while (i > 0 && {
        val par = (i - 1) >> 1
        hBefore(c, p, hCnt(par), hPair(par))
      }) {
        val par = (i - 1) >> 1
        hCnt(i) = hCnt(par); hPair(i) = hPair(par); i = par
      }
      hCnt(i) = c; hPair(i) = p
    }
    // pops the root into (hTopC, hTopP)
    var hTopC = 0L; var hTopP = 0L
    def hPop(): Unit = {
      hTopC = hCnt(0); hTopP = hPair(0)
      hN -= 1
      if (hN > 0) {
        val c = hCnt(hN); val p = hPair(hN)
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val r = l + 1
          var best = i; var bc = c; var bp = p
          if (l < hN && hBefore(hCnt(l), hPair(l), bc, bp)) {
            best = l; bc = hCnt(l); bp = hPair(l)
          }
          if (r < hN && hBefore(hCnt(r), hPair(r), bc, bp)) best = r
          if (best == i) done = true
          else {
            hCnt(i) = hCnt(best); hPair(i) = hPair(best); i = best
          }
        }
        hCnt(i) = c; hPair(i) = p
      }
    }
    // per-merge NET delta accumulator (reused): applying per-site bumps
    // straight to the global map pushed a heap snapshot per word-
    // occurrence — a popular merge raising (x,ab) across thousands of
    // words enqueued thousands of snapshots, all but the last stale,
    // and the sampled run lived in PriorityQueue.fixDown. Netting per
    // merge pushes ONE snapshot per raised pair at its final value;
    // counts (what determinism rests on) are identical either way.
    // GENERATION-STAMPED open-addressing scratch map (round-18
    // profile: LongMap rebuild + its generic O(n)-iterator clear()
    // were ~25% of the loop) — clear() is a generation bump, slots
    // record insertion order for iteration. Net-delta addition is
    // commutative, so insertion-order iteration preserves the exact
    // counts (and heap ties are exact duplicates, see above).
    var dCap = 1 << 12
    var dKs = new Array[Long](dCap); var dVs = new Array[Long](dCap)
    var dGen = new Array[Int](dCap); var dSlots = new Array[Int](dCap)
    var dN = 0; var dCurGen = 0
    @inline def dClear(): Unit = { dCurGen += 1; dN = 0 }
    def dGrow(): Unit = {
      val oKs = dKs; val oVs = dVs; val oGen = dGen; val oSlots = dSlots
      val oN = dN; val oGenCur = dCurGen
      dCap <<= 1
      dKs = new Array[Long](dCap); dVs = new Array[Long](dCap)
      dGen = new Array[Int](dCap); dSlots = new Array[Int](dCap)
      dN = 0; dCurGen = 1
      var i = 0
      while (i < oN) {
        val s = oSlots(i)
        if (oGen(s) == oGenCur) dAdd(oKs(s), oVs(s))
        i += 1
      }
    }
    def dAdd(k: Long, d: Long): Unit = {
      val mask = dCap - 1
      var s = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L)) & mask
      while (dGen(s) == dCurGen && dKs(s) != k) s = (s + 1) & mask
      if (dGen(s) != dCurGen) {
        if (dN * 2 >= dCap) { dGrow(); dAdd(k, d); return }
        dGen(s) = dCurGen; dKs(s) = k; dVs(s) = d
        dSlots(dN) = s; dN += 1
      } else dVs(s) += d
    }
    // per-merge word-touch stamps — replaces `touched.distinct`
    // (ArrayBuffer + HashSet allocation per merge in the profile)
    val wordGen = new Array[Int](words.length)
    var curMerge = 0
    // initial build: seed counts + postings, then ONE heap entry per
    // distinct pair (per-occurrence pushes would enqueue total-symbols
    // entries); all later maintenance is the local-delta step below
    def seedWord(wi: Int): Unit = {
      val syms = words(wi); val c = wcnt(wi)
      var i = 0
      while (i < syms.length - 1) {
        val k = pk(syms(i), syms(i + 1))
        counts.put(k, counts.get(k) + c)
        where.getOrElseUpdate(k,
          scala.collection.mutable.ArrayBuffer.empty[Int]) += wi
        i += 1
      }
    }
    words.indices.foreach(seedWord)
    counts.foreachEntry((k, c) => hPush(c, k))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      var bestA = -1; var bestB = -1
      while (bestA < 0 && hN > 0) {
        hPop()
        val c = hTopC; val p = hTopP
        val live = counts.get(p)
        if (live == c) { bestA = (p >>> 32).toInt; bestB = p.toInt }
        // stale snapshot: re-insert at the live count (decrements never
        // push, so this is the moment the heap learns the lower value)
        else if (live > 0L && live < c) hPush(live, p)
      }
      if (bestA < 0) exhausted = true
      else {
        merges += ((symStr(bestA), symStr(bestB)))
        val ab = intern(symStr(bestA) + symStr(bestB))
        val k = pk(bestA, bestB)
        // stamp-dedup: a word appears once per posted occurrence; one
        // rewrite handles all of them (first-occurrence order, exactly
        // what `.distinct` kept). Processing ORDER is immaterial —
        // every update below commutes (counts are exact per-occurrence
        // deltas; heap/postings tolerate stale snapshots) — so no sort.
        curMerge += 1
        val touched = where.remove(k)
          .getOrElse(scala.collection.mutable.ArrayBuffer.empty[Int])
        dClear()
        touched.foreach { wi =>
          if (wordGen(wi) != curMerge) {
          wordGen(wi) = curMerge
          // membership may be stale (the pair vanished from this word
          // under an earlier merge) — verify before rewriting
          val syms = words(wi)
          var has = false; var i = 0
          while (!has && i < syms.length - 1) {
            has = syms(i) == bestA && syms(i + 1) == bestB; i += 1
          }
          if (has) {
            // SITE-LOCAL accounting: only adjacencies around merge
            // sites change, five per site — dec(left,a) inc(left,ab)
            // dec(a,b) dec(b,right) inc(ab,right) — accumulated into
            // the per-merge net-delta map (the previous cut's whole-
            // word delta pass did ~2·len map ops per touch and was
            // half the measured runtime). `left` is the OUTPUT
            // neighbor: when a previous site just wrote ab there, the
            // dec cancels that site's own right-inc, so consecutive
            // sites ([x,a,b,a,b] → [x,ab,ab]) net to exactly the
            // recount deltas. Transient inc-then-cancel pairs may
            // leave a stale posting — lazily re-checked above.
            val c = wcnt(wi)
            @inline def bump(dk: Long, d: Long): Unit = {
              dAdd(dk, d * c)
              if (d > 0L)
                where.getOrElseUpdate(dk,
                  scala.collection.mutable.ArrayBuffer.empty[Int]) += wi
            }
            // the [[bpeApplyMerge]] step on interned ids: one
            // left-to-right, non-overlapping application
            val out = new Array[Int](syms.length)
            var n = 0; var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == bestA &&
                  syms(j + 1) == bestB) {
                if (n > 0) {
                  bump(pk(out(n - 1), bestA), -1L)
                  bump(pk(out(n - 1), ab), 1L)
                }
                bump(k, -1L)
                if (j + 2 < syms.length) {
                  bump(pk(bestB, syms(j + 2)), -1L)
                  bump(pk(ab, syms(j + 2)), 1L)
                }
                out(n) = ab; n += 1; j += 2
              }
              else { out(n) = syms(j); n += 1; j += 1 }
            }
            words(wi) = java.util.Arrays.copyOf(out, n)
          }
          }
        }
        // apply the merge's NET deltas once: one heap snapshot per
        // raised pair at its final live value (dec'd pairs push
        // nothing — their stale higher snapshot re-inserts on pop).
        // Insertion-order iteration; every step commutes (see above).
        var di = 0
        while (di < dN) {
          val s = dSlots(di)
          val dk = dKs(s); val d = dVs(s)
          if (d != 0L) {
            val nv = counts.get(dk) + d
            if (nv == 0L) counts.remove(dk)
            else {
              counts.put(dk, nv)
              if (d > 0L) hPush(nv, dk)
            }
          }
          di += 1
        }
        counts.remove(k)
      }
    }
    merges.toSeq
  }

  /** Persist a trained merge table as a VERSIONED dataset — the
    * production tokenizer lifecycle: train once per corpus release,
    * publish atomically, every encode job pins the model version it
    * tokenized with (the same train/serve split as the BM25 and
    * minhash indexes). One row per merge: (rank, lhs, rhs), rank
    * 1-based in training order — the merges.txt shape as a table.
    * Returns the committed model version. */
  def writeBpeModel(spark: org.apache.spark.sql.SparkSession,
                    merges: Seq[(String, String)], path: String): Long = {
    import spark.implicits._
    require(merges.nonEmpty, "writeBpeModel needs >= 1 merge")
    graft.sources.Versioned.commit(
      merges.zipWithIndex
        .map { case ((a, b), i) => ((i + 1).toLong, a, b) }
        .toDF("rank", "lhs", "rhs").coalesce(1),
      path, append = false)
  }

  /** Load a persisted merge table (head version, or a pinned one) in
    * rank order — the driver collect is model-sized (32k rows for a
    * production vocabulary), never corpus-sized. */
  def readBpeModel(spark: org.apache.spark.sql.SparkSession, path: String,
                   version: Option[Long] = None): Seq[(String, String)] =
    graft.sources.Versioned.read(spark, path, version)
      .orderBy("rank")
      .collect().toSeq.map(r => (r.getString(1), r.getString(2)))

  /** Encode a text column with a trained merge table: ARRAY<STRING> of
    * subword tokens, via the native [[graft.functions.BpeEncodeExpr]]
    * (greedy lowest-rank, codegen'd; the merge table is expression
    * state, not a column). */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    F.call_function("bpe_encode",
      F.typedlit(merges.map(m => Seq(m._1, m._2))), text)

  /** Characters that count as punctuation for quality scoring. */
  val PunctClass = "[.,!?;:]"

  def punctCount(text: Column): Column =
    F.length(text) - F.length(F.regexp_replace(text, PunctClass, ""))

  /** Default English-ish stopword list used by the quality scorer. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with")

  // ---- PII redaction (the pre-release scrub pass of a training-data
  //      pipeline). Patterns are deliberately conservative constructs
  //      (classes, bounded repeats, \b) that behave identically in
  //      Java regex and RE2, so a differential SQL oracle replays the
  //      redaction byte-for-byte. ----
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redacted text plus per-category hit counts. Replacement order is
    * fixed (email → phone → IPv4) so overlapping matches resolve the
    * same way everywhere. Pure narrow projection — codegen'd
    * `regexp_replace`/`regexp_extract_all`, no shuffle, linear in
    * corpus bytes. */
  def redactPii(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = F.col(textCol)
    df.select(
      F.col(idCol),
      F.regexp_replace(
        F.regexp_replace(
          F.regexp_replace(t, F.lit(EmailRe), F.lit("<EMAIL>")),
          F.lit(PhoneRe), F.lit("<PHONE>")),
        F.lit(Ipv4Re), F.lit("<IP>")).as("redacted"),
      F.size(F.regexp_extract_all(t, F.lit(EmailRe), F.lit(0))).cast("long").as("n_emails"),
      F.size(F.regexp_extract_all(t, F.lit(PhoneRe), F.lit(0))).cast("long").as("n_phones"),
      F.size(F.regexp_extract_all(t, F.lit(Ipv4Re), F.lit(0))).cast("long").as("n_ips"))
  }

  def stopwordCount(text: Column, stopwords: Seq[String] = Stopwords): Column = {
    val sw = F.array(stopwords.map(F.lit): _*)
    F.size(F.filter(tokens(F.lower(text)), (t: Column) => F.array_contains(sw, t)))
  }

  /** Composite quality score in [0,1]: rewards moderate length, low
    * punctuation density, and a natural-language stopword ratio. All
    * arithmetic is double-precision and order-free, so results are
    * bit-identical across any partitioning. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val chars = F.length(text).cast("double")
    val lenScore = F.least(n / F.lit(100.0), F.lit(1.0))
    val punctRatio = punctCount(text).cast("double") / F.greatest(chars, F.lit(1.0))
    val swRatio = stopwordCount(text).cast("double") / F.greatest(n, F.lit(1.0))
    val punctScore = F.lit(1.0) - F.least(punctRatio * F.lit(10.0), F.lit(1.0))
    val swScore = F.least(swRatio * F.lit(5.0), F.lit(1.0))
    F.round((lenScore + punctScore + swScore) / F.lit(3.0), 6)
  }

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. Deterministic argmax with fixed tie-break order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "la", "los", "es"),
    "fr" -> Seq("le", "les", "et", "est")
  )

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(F.lower(text))
    LangMarkers.map { case (lang, markers) =>
      val m = F.array(markers.map(F.lit): _*)
      lang -> F.size(F.filter(toks, (t: Column) => F.array_contains(m, t)))
    }
  }

  /** Heuristic language ID: argmax of marker-word counts, 'und'
    * (undetermined) when no marker hits. Ties break by [[LangMarkers]]
    * declaration order, so the result is deterministic. */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.tail.foldLeft[(Column, Column)]((F.lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (F.when(score > bestScore, F.lit(lang)).otherwise(bestLang),
         F.greatest(score, bestScore))
    }
    F.when(best._2 <= 0, F.lit("und")).otherwise(best._1)
  }

  /** LANGUAGE-MIXING detection: language-ID per fixed-size token window
    * (non-overlapping), compared against the document-level guess — a
    * document whose chunks disagree with its own label is code-switched,
    * concatenated from multiple sources, or mislabeled (all of which
    * poison monolingual training mixes; a doc-level vote alone cannot
    * see it). Returns (id, doc_lang, n_chunks, n_foreign, mix_frac).
    *
    * Scale shape: two narrow tokenization passes (doc-level vote +
    * chunk explode) and one doc-keyed aggregation — no shuffle of text
    * beyond the chunk rows themselves. Empty documents have no chunks
    * and are excluded, like [[graft.operators.Pack.slidingChunks]]. */
  def languageMix(df: DataFrame, textCol: String, idCol: String,
                  window: Int = 32): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val docLang = df.select(F.col(idCol), langId(F.col(textCol)).as("doc_lang"))
    val chunkLang = Pack.slidingChunks(df, textCol, idCol, window,
        stride = window)
      .select(F.col(idCol), langId(F.col("chunk_text")).as("chunk_lang"))
    chunkLang.join(docLang, Seq(idCol))
      .groupBy(idCol, "doc_lang")
      .agg(F.count(F.lit(1)).as("n_chunks"),
        F.sum(F.when(F.col("chunk_lang") =!= F.col("doc_lang"), 1L)
          .otherwise(0L)).as("n_foreign"))
      .select(F.col(idCol), F.col("doc_lang"), F.col("n_chunks"),
        F.col("n_foreign"),
        F.round(F.col("n_foreign") / F.col("n_chunks"), 6).as("mix_frac"))
  }

  /** Content fingerprint: MD5 of case-folded, whitespace-collapsed text.
    * Stable across partitionings; the standard first pass of exact dedup
    * at corpus scale (hash first, compare full text only within hash
    * buckets). */
  def fingerprint(text: Column): Column =
    F.md5(F.encode(F.regexp_replace(F.lower(F.trim(text)), "\\s+", " "), "UTF-8"))

  /** Rolling polynomial hash over character codepoints (base 257, mod
    * 2^31-1; the intermediate `acc*257 + ch` stays < 2^40, so Long
    * arithmetic never overflows even under ANSI mode) — a seed for
    * winnowing-style shingle fingerprints. Expressed with `aggregate`
    * over the char array so it remains a codegen'd expression. */
  def rollingHash(text: Column): Column =
    F.aggregate(
      F.split(text, ""),
      F.lit(0L),
      (acc: Column, ch: Column) =>
        F.pmod(acc * F.lit(257L) + F.coalesce(F.ascii(ch).cast("long"), F.lit(0L)),
               F.lit(2147483647L))
    )

  /** Winnowing fingerprints (Schleimer et al.): token k-gram rolling
    * hashes, sliding window of `w`, keep the minimum hash per window —
    * the standard local-sampling fingerprint for plagiarism/overlap
    * detection. Guarantees any shared run of >= w+k-1 tokens yields at
    * least one shared fingerprint. Pure array expressions, per-row. */
  def winnowingFingerprint(text: Column, k: Int = 3, w: Int = 4,
                           gramHash: Column => Column = (g: Column) => F.xxhash64(g)): Column = {
    import graft.functions.ExprUtils.let
    // let-bind the token and gram arrays: a lambda body that closes over a
    // non-lambda subtree re-evaluates it per element, which would make
    // this O(tokens²) in tokenizations. `gramHash` defaults to the native
    // xxhash64; pass [[Dedup.md5Hash60]] for an engine-portable variant a
    // differential SQL oracle can replay.
    let(tokens(F.lower(text))) { toks =>
      let(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        (i: Column) => gramHash(F.array_join(F.slice(toks, i + 1, F.lit(k)), " ")))) { grams =>
        F.array_distinct(F.transform(
          F.sequence(F.lit(0), F.greatest(F.size(grams) - w, F.lit(0))),
          (i: Column) => F.array_min(F.slice(grams, i + 1, F.lit(w)))))
      }
    }
  }

  /** Gopher-style repetition and shape signals (Rae et al. 2021 §A1.1 —
    * the standard pre-training quality filters): fraction of duplicate
    * lines, mean word length, symbol-to-char ratio, bullet-line ratio.
    * Pure per-row expressions (let-bound line/token arrays), so the whole
    * filter pass is a narrow map at any corpus size. All four are ratios
    * of integers computed identically by any engine — no rounding needed
    * for differential testing. */
  def gopherStats(text: Column): Column = {
    import graft.functions.ExprUtils.let
    let(F.filter(F.split(text, "\n"), (l: Column) => F.length(F.trim(l)) > 0)) { lines =>
      let(tokens(text)) { toks =>
        val nLines = F.size(lines).cast("double")
        val nToks = F.size(toks).cast("double")
        val dupLines = F.when(nLines === 0, 0.0).otherwise(
          F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / nLines)
        val meanWordLen = F.when(nToks === 0, 0.0).otherwise(
          F.aggregate(toks, F.lit(0L), (a: Column, t: Column) => a + F.length(t))
            .cast("double") / nToks)
        val symbolRatio =
          (F.length(text) - F.length(F.regexp_replace(text, "[#@*&%+=~|]", "")))
            .cast("double") / F.greatest(F.length(text).cast("double"), F.lit(1.0))
        val bulletRatio = F.when(nLines === 0, 0.0).otherwise(
          F.size(F.filter(lines, (l: Column) =>
            F.trim(l).rlike("^[-*•]"))).cast("double") / nLines)
        F.struct(
          dupLines.as("frac_dup_lines"),
          meanWordLen.as("mean_word_len"),
          symbolRatio.as("symbol_ratio"),
          bulletRatio.as("bullet_ratio"))
      }
    }
  }

  /** Fused per-document (quality, lang_guess) signals for composed
    * pipelines: ONE let-bound tokenization feeds the stopword, marker and
    * length counts — the separate [[qualityScore]] + [[langId]] columns
    * would inline ~10 independent tokenizations per row once
    * CollapseProject merges them into a consumer (the round-1 recompute
    * hazard, see ExprUtils.let). The counting side is the single-pass
    * `text_stats` expression (no regex at all). Semantics — and
    * therefore oracles — are identical to the stand-alone columns: same
    * formula order, same rounding, same tie-break CASE. */
  def docSignals(text: Column): Column = {
    import graft.functions.ExprUtils.let
    let(tokens(F.lower(text))) { toks =>
      val st = F.call_function("text_stats", text)
      val (nTok, nPunct, nStop) = (st.getField("n_tokens"),
        st.getField("n_punct"), st.getField("n_stopwords"))
      let(F.array(LangMarkers.map { case (_, ms) =>
        val m = F.array(ms.map(F.lit): _*)
        F.size(F.filter(toks, (t: Column) => F.array_contains(m, t)))
      }: _*)) { sc =>
        val n = nTok.cast("double")
        val chars = F.length(text).cast("double")
        val lenScore = F.least(n / F.lit(100.0), F.lit(1.0))
        val punctRatio = nPunct.cast("double") / F.greatest(chars, F.lit(1.0))
        val swRatio = nStop.cast("double") / F.greatest(n, F.lit(1.0))
        val punctScore = F.lit(1.0) - F.least(punctRatio * F.lit(10.0), F.lit(1.0))
        val swScore = F.least(swRatio * F.lit(5.0), F.lit(1.0))
        val quality = F.round((lenScore + punctScore + swScore) / F.lit(3.0), 6)
        val Seq(sEn, sDe, sEs, sFr) =
          (1 to 4).map(i => F.element_at(sc, i))
        val lang = F.when(F.greatest(sEn, sDe, sEs, sFr) <= 0, "und")
          .when(sFr > F.greatest(sEn, sDe, sEs), "fr")
          .when(sEs > F.greatest(sEn, sDe), "es")
          .when(sDe > sEn, "de")
          .otherwise("en")
        F.struct(quality.as("quality"), lang.as("lang_guess"))
      }
    }
  }

  /** Top n-gram fraction (Rae et al. 2021 §A1.1): the share of a
    * document's token n-grams accounted for by its single most frequent
    * n-gram — the standard in-document repetition signal (boilerplate,
    * keyword stuffing, generation loops). Pure per-row array
    * expressions, so the whole repetition filter is a narrow codegen'd
    * map at any corpus size — never a shuffle. The max count comes from
    * sorting the gram array and folding the longest equal-adjacent run:
    * O(g log g) per row, NOT the naive O(distinct·g) nested scan, which
    * would turn one ~100k-token mostly-distinct document into a 10¹⁰-
    * comparison straggler task. Returns 0.0 for documents shorter than
    * `n` tokens. The value is a ratio of two integers (IEEE division —
    * deterministic), so a differential oracle replays it exactly with no
    * rounding. */
  def topNgramFrac(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    import graft.functions.ExprUtils.let
    let(tokens(F.lower(text))) { toks =>
      let(F.array_sort(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        (i: Column) => F.array_join(F.slice(toks, i + 1, F.lit(n)), " ")))) { sorted =>
        val best = F.aggregate(
          sorted,
          F.struct(F.lit(null).cast("string").as("prev"),
                   F.lit(0).as("run"), F.lit(0).as("best")),
          (st: Column, g: Column) => {
            // null-safe <=>: the seed's null prev never matches a gram
            val run = F.when(st.getField("prev") <=> g,
              st.getField("run") + 1).otherwise(F.lit(1))
            F.struct(g.as("prev"), run.as("run"),
              F.greatest(st.getField("best"), run).as("best"))
          },
          (st: Column) => st.getField("best"))
        // coalesce: a NULL text has size(toks) = null, which would slip
        // past `< n` into the fold, where the seed's null prev would
        // null-safe-match the single null gram and score 1.0 — null and
        // short docs both contract to 0.0
        F.when(F.coalesce(F.size(toks), F.lit(0)) < n, F.lit(0.0)).otherwise(
          best.cast("double") / F.size(sorted).cast("double"))
      }
    }
  }

  /** One row per (id, token) with its in-document count — the shared
    * first pass of the corpus statistics ([[tfidfTopTerms]],
    * [[unigramLogProb]]). Staged LAZILY: both operators consume the
    * frame twice (vocabulary/model + scoring), and without staging
    * Catalyst re-derives the second consumer from the scan — a full
    * re-tokenize + re-shuffle of the corpus (ReuseExchange can't match
    * the two branches because the vocabulary branch optimizes down to a
    * distinct). The lazy local checkpoint materializes tf as a side
    * effect of whichever consumer runs first; the other reads blocks —
    * one corpus pass, no extra job barrier. */
  private def stagedTf(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(F.col(idCol), F.explode(tokens(F.lower(F.col(textCol)))).as("token"))
      .groupBy(idCol, "token").agg(F.count(F.lit(1)).as("tf"))
      .localCheckpoint(false)

  /** Corpus VOCABULARY + per-document out-of-vocabulary rate — the
    * tokenizer-coverage statistic a pre-training mix ships with (a
    * rising OOV rate flags domain drift; per-doc OOV is a standard
    * quality filter input). The vocabulary is the top `vocabSize`
    * tokens by DOCUMENT frequency, ties broken by token ascending so a
    * differential oracle replays the exact membership; the rate is the
    * fraction of token OCCURRENCES (not types) outside it.
    *
    * Scale shape: one corpus tokenization pass ([[stagedTf]], exploded
    * tokens combine map-side), document frequency re-aggregates the tf
    * frame, the vocabulary is a bounded TakeOrdered (vocabSize rows on
    * the driver — the only bounded collect), and membership tests are a
    * broadcast join. OOV aggregation is doc-keyed — partitions evenly. */
  def vocabOovRate(df: DataFrame, textCol: String, idCol: String,
                   vocabSize: Int = 256): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val tf = stagedTf(df, textCol, idCol)
    val vocab = tf.groupBy("token").agg(F.count(F.lit(1)).as("_dfc"))
      .orderBy(F.col("_dfc").desc, F.col("token").asc)
      .limit(vocabSize)
      .select(F.col("token"), F.lit(1).as("_inv"))
    tf.join(F.broadcast(vocab), Seq("token"), "left")
      .groupBy(idCol)
      .agg(
        F.round(
          F.sum(F.when(F.col("_inv").isNull, F.col("tf")).otherwise(0L))
            .cast("double") / F.sum("tf"), 6).as("oov_rate"),
        F.sum("tf").as("n_tokens"))
  }

  /** Per-document top-k terms by tf-idf — the classic two-pass corpus
    * statistic (keyword extraction, topic tagging for data cards).
    *
    * Scale shape: term frequency is one keyed aggregation over exploded
    * tokens (map-side partial combine — the explode never reaches the
    * shuffle at full width); document frequency re-aggregates the tf
    * frame (one row per (doc, token), far smaller than raw tokens); the
    * tf⋈df join is token-keyed — AQE broadcasts the df side when the
    * vocabulary is small, shuffles both when it isn't. The final top-k
    * is a per-document window — keyed by doc id, so it partitions
    * evenly. N comes from `df.count()`, which parquet answers from
    * row-group metadata (no data scan), and is the only driver-side
    * value (one long — bounded).
    *
    * Both the emitted score and the RANKING use the rounded
    * `round(tf·ln(N/df), 6)` so a differential oracle in another engine
    * reproduces the exact ordering (tie-break: token ascending). */
  def tfidfTopTerms(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nDocs = df.count()
    val tf = stagedTf(df, textCol, idCol)
    val dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).as("df"))
    val scored = tf.join(dfreq, "token")
      .withColumn("score",
        F.round(F.col("tf") * F.log(F.lit(nDocs.toDouble) / F.col("df")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(F.col("score").desc, F.col("token").asc)
    scored.withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col(idCol), F.col("token"), F.col("tf"), F.col("df"), F.col("score"))
  }

  /** BM25 top-k retrieval over the corpus (Robertson/Spärck Jones) —
    * the lexical-search sibling of the embedding ANN path
    * ([[graft.operators.Similarity]]): score each document against a
    * query string and return the k best. The standard retrieval pass of
    * a RAG/eval pipeline, and the scoring backbone the capped
    * [[invertedIndex]] serves.
    *
    * score(d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·len/avgLen)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the +1 form that keeps
    * idf positive for ubiquitous terms.
    *
    * Scale shape: the tf frame is built once ([[stagedTf]] — staged, it
    * feeds lengths, document frequencies, AND the match set) and
    * immediately pruned to QUERY TOKENS, so everything downstream is
    * proportional to matching postings, not the corpus; document
    * frequencies for ≤|q| terms broadcast; document lengths join
    * doc-keyed (only matching docs survive the inner join); the global
    * (total length, N) pair is one broadcast row. Top-k is
    * `TakeOrderedAndProject` — O(k) per partition to the driver, never a
    * global sort. Determinism: per-term scores round to 9 decimals
    * before the group sum (cross-engine ln ulps cannot reorder it), the
    * final score to 6, ties break on ascending id — a differential
    * oracle reproduces the exact k-set. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
               query: String, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // UTF8String.toLowerCase: the EXACT lowering F.lower applies to the
    // corpus — a JVM-default-locale String.toLowerCase would diverge on
    // e.g. a Turkish-locale driver (I/İ), the round-2 advisor's locale bug
    val qLower = org.apache.spark.unsafe.types.UTF8String
      .fromString(query).toLowerCase.toString
    val qTerms = qLower.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, "bm25TopK: query has no tokens")
    val nDocs = df.count() // parquet metadata count — the only driver value
    val tf = stagedTf(df, textCol, idCol)
    val matched = tf.filter(F.col("token").isin(qTerms: _*))
    val dfreq = matched.groupBy("token").agg(F.count(F.lit(1)).as("df"))
    val lens = tf.groupBy(idCol).agg(F.sum("tf").as("len"))
    val totals = lens.agg(F.sum("len").as("total_len"))
    val avgLen = F.col("total_len").cast("double") / F.lit(nDocs.toDouble)
    val idf = F.log(F.lit(1.0) +
      (F.lit(nDocs.toDouble) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    val termScore = F.round(
      idf * (F.col("tf") * (k1 + 1)) /
        (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("len") / avgLen)),
      9)
    matched
      .join(F.broadcast(dfreq), "token")
      .join(lens, Seq(idCol))
      .crossJoin(F.broadcast(totals))
      .select(F.col(idCol), termScore.as("ts"))
      .groupBy(idCol)
      .agg(F.round(F.sum("ts"), 6).as("bm25"))
      .orderBy(F.col("bm25").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** The committed state of a BM25 index: corpus constants plus the
    * IMMUTABLE segment directories that make up this generation. */
  private[graft] final case class Bm25Manifest(gen: Long, nDocs: Long,
      totalLen: Long, numBuckets: Int, idCol: String, segments: Seq[String])

  private def bm25Fs(spark: org.apache.spark.sql.SparkSession,
                     path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve the CURRENT generation: highest `gen-N.txt` in
    * `path/manifest/`. One driver-side directory listing — the only
    * non-immutable read in the whole serving path. */
  private[graft] def readBm25Manifest(
      spark: org.apache.spark.sql.SparkSession, path: String): Bm25Manifest = {
    val fs = bm25Fs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/manifest")
    val gens = fs.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.startsWith("gen-") && s.endsWith(".txt") =>
        s.stripPrefix("gen-").stripSuffix(".txt").toLong }
    require(gens.nonEmpty, s"no committed manifest under $dir")
    val gen = gens.max
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, f"gen-$gen%09d.txt"))
    val text = try {
      new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    } finally in.close()
    val lines = text.split("\n").toSeq
    Bm25Manifest(gen, lines(0).toLong, lines(1).toLong, lines(2).toInt,
      lines(3), lines.drop(4).filter(_.nonEmpty))
  }

  /** Commit a manifest as generation `m.gen` via write-temp + RENAME —
    * atomic on HDFS (and POSIX); on an object store without atomic
    * rename you'd use a conditional PUT on the same key shape. Readers
    * either resolve the previous generation or this one — never a mix.
    * Fails loudly if `m.gen` was committed concurrently (single-writer
    * appends are the contract, as with the minhash index). */
  private def commitBm25Manifest(spark: org.apache.spark.sql.SparkSession,
                                 path: String, m: Bm25Manifest): Unit = {
    val fs = bm25Fs(spark, path)
    val dir = new org.apache.hadoop.fs.Path(s"$path/manifest")
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(
      (Seq(m.nDocs.toString, m.totalLen.toString, m.numBuckets.toString,
        m.idCol) ++ m.segments).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new org.apache.hadoop.fs.Path(dir, f"gen-${m.gen}%09d.txt")
    if (!fs.rename(tmp, dest) || !fs.exists(dest)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"manifest generation ${m.gen} already committed at $dest — " +
        "concurrent appenders must be serialized")
    }
  }

  /** Write one immutable postings SEGMENT for `df` and return
    * (segmentName, docCount, tokenCount). Shared by build and append —
    * a segment is never modified after this returns. */
  private def writeBm25Segment(df: DataFrame, textCol: String, idCol: String,
                               path: String, numBuckets: Int)
      : (String, Long, Long) = {
    val seg = s"seg-${java.util.UUID.randomUUID().toString.take(12)}"
    // n_docs and total_len ride the write job as observations (round
    // 18): the corpus-pass count() and the post-write lens
    // re-aggregation were each their own job — n_docs counts the rows
    // flowing INTO tokenization (token-less documents included, like
    // count() was), total_len sums the per-doc lengths flowing into
    // the join. One corpus pass total.
    val nObs = new org.apache.spark.sql.Observation()
    val lenObs = new org.apache.spark.sql.Observation()
    val tf = df
      .observe(nObs, F.count(F.lit(1)).as("n"))
      .select(F.col(idCol),
        F.explode(tokens(F.lower(F.col(textCol)))).as("token"))
      .groupBy(idCol, "token").agg(F.count(F.lit(1)).as("tf"))
      .localCheckpoint(false)
    val lens = tf.groupBy(idCol).agg(F.sum("tf").as("len"))
      .observe(lenObs, F.coalesce(F.sum("len"), F.lit(0L)).as("t"))
    tf.join(lens, Seq(idCol))
      .select(F.col("token"),
        (Dedup.md5Hash60(F.col("token")) % numBuckets).cast("int").as("tbucket"),
        F.col(idCol), F.col("tf"), F.col("len"))
      // HASH-DISTRIBUTE by the write's partition column (round 18 —
      // the Delta/Iceberg `write.distribution-mode=hash` move): an
      // un-clustered partitionBy writes up to tasks × buckets files
      // per segment (a file-count explosion at corpus scale) and at
      // toy scale degenerates to ONE task holding every bucket (AQE
      // coalesces the delta-sized join; measured 0.6 s single-thread
      // in a 2 s build). Explicit numBuckets-way repartition gives one
      // file per bucket and bucket-parallel writes at every scale —
      // numBuckets is the operator's existing scale knob.
      .repartition(numBuckets, F.col("tbucket"))
      .write.partitionBy("tbucket").mode("overwrite")
      .parquet(s"$path/segments/$seg/postings")
    def obsLong(o: org.apache.spark.sql.Observation, fallback: => Long): Long =
      try scala.concurrent.Await.result(o.future,
        scala.concurrent.duration.Duration("30s")).getLong(0)
      catch { case _: java.util.concurrent.TimeoutException =>
        // listener never fired (defensive) — recompute the old way
        fallback
      }
    (seg,
      obsLong(nObs, df.count()),
      obsLong(lenObs, tf.groupBy(idCol).agg(F.sum("tf").as("len"))
        .agg(F.coalesce(F.sum("len"), F.lit(0L))).head().getLong(0)))
  }

  /** Persist a BM25 SERVING index — the lexical twin of
    * [[graft.operators.Similarity.writeIvfPqCodes]] /
    * [[graft.operators.Dedup.writeMinhashIndex]]: [[bm25TopK]] is correct
    * but re-aggregates the corpus tf and length frames PER QUERY, which
    * at 100 TB makes every query a corpus scan. This writes that work
    * out once per corpus version:
    *
    *  - `path/segments/<seg>/postings`: (token, id, tf, len) rows
    *    hive-partitioned by `tbucket = md5Hash60(token) % numBuckets`,
    *    so a query's scan prunes to its terms' buckets at the STORAGE
    *    level (the parquet reader never opens the other buckets' files).
    *    Document length is denormalized into each posting — 8 bytes/row
    *    buys the query path out of any doc-keyed join against a
    *    corpus-sized length table. Segments are IMMUTABLE; appends add
    *    segments, never rewrite them.
    *  - `path/manifest/gen-N.txt`: the committed GENERATION — corpus
    *    constants (n_docs, total_len, num_buckets, id_col) plus the
    *    segment list, swapped in atomically (see
    *    [[commitBm25Manifest]]). Queries resolve the manifest once, so
    *    a concurrent [[appendBm25Index]] is invisible until its commit
    *    and fully visible after — never a half-appended layout.
    *
    * A token's postings land in exactly one bucket in every segment, so
    * per-term document frequency is computable from the pruned scan
    * alone. Build cost: the one corpus tokenization pass [[stagedTf]]
    * already pays, a doc-keyed length aggregation, and a token-bucketed
    * shuffle-free write (partitionBy is a local sort within write
    * tasks, not an exchange). A rebuild at an existing path commits a
    * fresh single-segment generation (old segments become unreferenced;
    * in-flight readers of prior generations are unaffected). */
  def writeBm25Index(df: DataFrame, textCol: String, idCol: String,
                     path: String, numBuckets: Int = 64): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val spark = df.sparkSession
    val (seg, nDocs, totalLen) =
      writeBm25Segment(df, textCol, idCol, path, numBuckets)
    val gen = try readBm25Manifest(spark, path).gen + 1
              catch { case _: Exception => 1L }
    commitBm25Manifest(spark, path,
      Bm25Manifest(gen, nDocs, totalLen, numBuckets, idCol, Seq(seg)))
  }

  /** BATCH BM25: top-k per query for a QUERY TABLE — the real shape of
    * retrieval evaluation and hard-negative mining (thousands of
    * queries against one corpus, not one string at a time). Same
    * formula, rounding and tie-break as [[bm25TopK]], so the per-query
    * results match the single-query operator exactly.
    *
    * Scale shape: query terms come from a (small) table instead of
    * driver literals — tokenized with the SAME lowering/splitting as
    * the corpus, exploded, distinct, and joined token-keyed against the
    * staged tf frame (AQE broadcasts the term side). Per-query top-k
    * runs through the bounded-heap `topk_pairs` aggregate — O(k) state
    * per query per task, never a per-query window sort over all
    * matching docs. One corpus tokenization pass serves every query. */
  def bm25TopKBatch(df: DataFrame, textCol: String, idCol: String,
                    queries: DataFrame, queryIdCol: String,
                    queryTextCol: String, k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nDocs = df.count()
    val tf = stagedTf(df, textCol, idCol)
    val qTerms = queries.select(F.col(queryIdCol).as("query_id"),
        F.explode(F.array_distinct(tokens(F.lower(F.col(queryTextCol)))))
          .as("token"))
    val matched = tf.join(F.broadcast(qTerms), "token")
    val dfreq = tf
      .join(F.broadcast(qTerms.select("token").distinct()), "token")
      .groupBy("token").agg(F.count(F.lit(1)).as("df"))
    val lens = tf.groupBy(idCol).agg(F.sum("tf").as("len"))
    val totals = lens.agg(F.sum("len").as("total_len"))
    val avgLen = F.col("total_len").cast("double") / F.lit(nDocs.toDouble)
    val idf = F.log(F.lit(1.0) +
      (F.lit(nDocs.toDouble) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    val termScore = F.round(
      idf * (F.col("tf") * (k1 + 1)) /
        (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("len") / avgLen)),
      9)
    val scored = matched
      .join(F.broadcast(dfreq), "token")
      .join(lens, Seq(idCol))
      .crossJoin(F.broadcast(totals))
      .select(F.col("query_id"), F.col(idCol), termScore.as("ts"))
      .groupBy("query_id", idCol)
      .agg(F.round(F.sum("ts"), 6).as("bm25"))
    scored.groupBy("query_id")
      .agg(F.call_function("topk_pairs",
        F.col("bm25"), F.col(idCol).cast("long"), F.lit(k)).as("top"))
      .select(F.col("query_id"), F.explode(F.col("top")).as("t"))
      .select(F.col("query_id"), F.col("t.id").as(idCol),
        F.col("t.score").as("bm25"))
  }

  /** INCREMENTAL maintenance of a [[writeBm25Index]] layout: append a
    * new document batch without rebuilding — the nightly-ingest form
    * ([[graft.operators.Dedup.minhashLshIncremental]]'s lexical
    * sibling). Works because every piece of the index is ADDITIVE: new
    * postings append into their token buckets (same hash, same
    * partitioning — old files are never rewritten), and the stats row
    * updates by addition (n_docs += batch docs, total_len += batch
    * tokens). After the append, [[bm25TopKIndexed]] answers queries over
    * the COMBINED corpus exactly as a full rebuild would — which is what
    * the differential oracle checks. Ids must be unique across the
    * existing index and the batch (re-ingest via [[graft.operators.Dedup.corpusDiff]]
    * first). Cost: one tokenization pass over the BATCH only. */
  def appendBm25Index(newDocs: DataFrame, textCol: String, idCol: String,
                      path: String): Unit = {
    val spark = newDocs.sparkSession
    val m = readBm25Manifest(spark, path)
    require(m.idCol == idCol,
      s"index was built with id column '${m.idCol}', got '$idCol'")
    // new segment first (invisible until the commit), manifest swap last:
    // a failure anywhere leaves the current generation fully intact, and
    // a concurrent bm25TopKIndexed resolved its manifest before or after
    // the rename — a half-appended layout is unobservable by construction
    val (seg, nNew, newLen) =
      writeBm25Segment(newDocs, textCol, idCol, path, m.numBuckets)
    commitBm25Manifest(spark, path, Bm25Manifest(m.gen + 1,
      m.nDocs + nNew, m.totalLen + newLen, m.numBuckets, idCol,
      m.segments :+ seg))
  }

  /** BM25 top-k against a [[writeBm25Index]] layout — result identical
    * to [[bm25TopK]] on the indexed corpus (same formula, same rounding,
    * same tie-break; one oracle gates both), but the query path touches
    * only its terms' postings buckets: the `tbucket IN (...)` predicate
    * becomes parquet PARTITION PRUNING, document frequencies aggregate
    * over the pruned matches, and the corpus constants come from the
    * one-row stats file. Per-query cost scales with matching postings —
    * independent of corpus size — which is what makes this the 100 TB
    * serving shape. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                      query: String, k: Int = 10,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // ONE manifest resolution pins this query to a committed generation:
    // segments are immutable, so the plan below reads a consistent
    // snapshot even if an append commits mid-query
    val m = readBm25Manifest(spark, path)
    val nDocs = m.nDocs
    val totalLen = m.totalLen
    val numBuckets = m.numBuckets
    val idCol = m.idCol
    // same UTF8String lowering + md5 fold as the build side — a locale-
    // dependent lowercase or a different hash would probe wrong buckets
    val qLower = org.apache.spark.unsafe.types.UTF8String
      .fromString(query).toLowerCase.toString
    val qTerms = qLower.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, "bm25TopKIndexed: query has no tokens")
    val qBuckets = qTerms.map { t =>
      (graft.functions.PortableHash.md5Hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) % numBuckets)
        .toInt
    }.distinct
    // one root per segment (separate loads unioned — multiple partitioned
    // roots cannot share one file index); the bucket filter pushes through
    // the union into every segment's scan as a PartitionFilter
    val matched = m.segments
      .map(s => spark.read.parquet(s"$path/segments/$s/postings"))
      .reduce(_.unionByName(_))
      .filter(F.col("tbucket").isin(qBuckets: _*)) // storage-level pruning
      .filter(F.col("token").isin(qTerms: _*))
    val dfreq = matched.groupBy("token").agg(F.count(F.lit(1)).as("df"))
    // the same double the batch path's total_len/n division produces —
    // identical operands, identical IEEE result, so round(...,9) agrees
    val avgLen = totalLen.toDouble / nDocs.toDouble
    val idf = F.log(F.lit(1.0) +
      (F.lit(nDocs.toDouble) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    val termScore = F.round(
      idf * (F.col("tf") * (k1 + 1)) /
        (F.col("tf") + F.lit(k1) *
          (F.lit(1.0 - b) + F.lit(b) * F.col("len") / F.lit(avgLen))),
      9)
    matched
      .join(F.broadcast(dfreq), "token")
      .select(F.col(idCol), termScore.as("ts"))
      .groupBy(idCol)
      .agg(F.round(F.sum("ts"), 6).as("bm25"))
      .orderBy(F.col("bm25").desc, F.col(idCol).asc)
      .limit(k)
  }

  /** Unigram log-probability scoring — the perplexity-proxy quality
    * filter (a document whose tokens are improbable under the corpus
    * unigram model is noise, menus, or the wrong language): score =
    * mean over tokens of -ln p(token), with add-one smoothing over the
    * corpus vocabulary so unseen probability mass is defined.
    *
    * Scale shape: the unigram model is one token-keyed count aggregation
    * (map-side combine); scoring joins each document's (doc, token, tf)
    * against the model — token-keyed again, so the model never
    * broadcasts unless AQE decides it fits — and re-aggregates per
    * document. Like [[tfidfTopTerms]], the tf frame is consumed twice
    * (model + scoring), so it is staged lazily: one corpus tokenization
    * pass total. The per-document score is Σ tf·(-ln p) / Σ tf with the
    * DIVISION LAST — one rounding at the end, replayable because the
    * summation order inside a group is made irrelevant by rounding the
    * per-token term first. */
  /** Token-distribution DRIFT between two corpus snapshots — the
    * release-observability report a data pipeline runs before shipping
    * a new corpus version: which tokens moved most, by per-token KL
    * contribution `p_b · ln(p_b / p_a)` under add-one smoothing over
    * the JOINT vocabulary (so tokens absent on one side still score).
    * Pairs naturally with [[graft.sources.Versioned.changes]]: `a` =
    * the pinned release, `b` = the candidate head.
    *
    * Scale shape: one token aggregation per side (map-side combinable),
    * a vocab-keyed full-outer join, a broadcast one-row totals frame,
    * and a bounded top-k TakeOrdered — never a full sort. The ln term
    * is pre-rounded (the [[unigramLogProb]] rule) so cross-engine ulps
    * cannot reorder the ranking; ties break on the token.
    *
    * Returns the k largest positive movers (token, cnt_a, cnt_b,
    * log_ratio, kl_term), kl_term descending. */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def counts(df: DataFrame, name: String) =
      df.select(F.explode(tokens(F.col(textCol))).as("token"))
        .groupBy("token").agg(F.count(F.lit(1)).as(name))
    // STAGED: the totals aggregate and the scoring projection both
    // consume the join — un-staged, the tokenize → groupBy →
    // full-outer-join pipeline over BOTH corpora would execute twice
    // (the q59 fan-out-recompute lesson); the staged frame is bounded
    // by the joint vocabulary, not the corpus
    val joined = counts(a, "cnt_a")
      .join(counts(b, "cnt_b"), Seq("token"), "full_outer")
      .na.fill(0L, Seq("cnt_a", "cnt_b"))
      .localCheckpoint(true)
    val stats = joined.agg(F.sum("cnt_a").as("_na"),
      F.sum("cnt_b").as("_nb"), F.count(F.lit(1)).as("_v"))
    val pA = (F.col("cnt_a") + 1).cast("double") /
      (F.col("_na") + F.col("_v")).cast("double")
    val pB = (F.col("cnt_b") + 1).cast("double") /
      (F.col("_nb") + F.col("_v")).cast("double")
    joined.crossJoin(F.broadcast(stats))
      .select(F.col("token"), F.col("cnt_a"), F.col("cnt_b"),
        F.round(F.log(pB / pA), 9).as("log_ratio"),
        F.round(pB * F.round(F.log(pB / pA), 9), 12).as("kl_term"))
      .orderBy(F.col("kl_term").desc, F.col("token"))
      .limit(k)
  }

  def unigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = stagedTf(df, textCol, idCol)
    val model = tf.groupBy("token").agg(F.sum("tf").as("cnt"))
    val totals = model.agg(
      F.sum("cnt").as("n_tokens"), F.count(F.lit(1)).as("vocab"))
    val scored = tf.join(model, "token").crossJoin(F.broadcast(totals))
      .select(F.col(idCol), F.col("tf"),
        // add-one smoothing: p = (cnt+1) / (N + |V|); the per-token term
        // is rounded so cross-engine ln ulps cannot reorder group sums
        F.round(-F.log((F.col("cnt") + 1).cast("double") /
          (F.col("n_tokens") + F.col("vocab")).cast("double")), 9)
          .as("nll"))
    scored.groupBy(idCol)
      .agg(F.round(F.sum(F.col("tf") * F.col("nll")) / F.sum("tf"), 6)
        .as("mean_nll"))
  }

  /** Bigram log-probability scoring — [[unigramLogProb]]'s sharper
    * sibling: score = mean over positions of -ln p(w_i | w_{i-1}) under
    * the corpus bigram model with add-one smoothing
    * (p = (c(w1,w2)+1) / (c(w1·)+V), V = bigram-eligible vocabulary).
    * A document can have plausible unigrams in implausible order
    * (shuffled text, keyword stuffing, bad OCR segmentation) — the
    * bigram model catches exactly that.
    *
    * Scale shape: one tokenization pass builds the per-doc bigram tf
    * frame (zip_with over adjacent tokens — narrow), STAGED because it
    * feeds the model, the context counts, the vocabulary, and the
    * scoring join; everything downstream is keyed aggregation/join on
    * (w1, w2) or (w1) — map-side combinable, no corpus re-read. Docs
    * with fewer than two tokens have no bigrams and are excluded
    * (matching the oracle). Per-bigram terms round to 9 decimals before
    * the group sum so cross-engine ln ulps cannot reorder it. */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(F.col(idCol), tokens(F.lower(F.col(textCol))).as("t"))
      .filter(F.size(F.col("t")) >= 2)
    val pairs = toks.select(F.col(idCol),
      F.explode(F.zip_with(
        F.slice(F.col("t"), F.lit(1), F.size(F.col("t")) - 1),
        F.slice(F.col("t"), F.lit(2), F.size(F.col("t")) - 1),
        (a: Column, b: Column) => F.struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(F.col(idCol), F.col("bg.w1").as("w1"), F.col("bg.w2").as("w2"))
    val tf = pairs.groupBy(idCol, "w1", "w2")
      .agg(F.count(F.lit(1)).as("tf"))
      .localCheckpoint(false)
    val model = tf.groupBy("w1", "w2").agg(F.sum("tf").as("c12"))
    val ctx = tf.groupBy("w1").agg(F.sum("tf").as("c1"))
    val vocab = tf
      .select(F.explode(F.array(F.col("w1"), F.col("w2"))).as("tok"))
      .agg(F.count_distinct(F.col("tok")).as("v"))
    val scored = tf
      .join(model, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(F.broadcast(vocab))
      .select(F.col(idCol), F.col("tf"),
        F.round(-F.log((F.col("c12") + 1).cast("double") /
          (F.col("c1") + F.col("v")).cast("double")), 9).as("nll"))
    scored.groupBy(idCol)
      .agg(F.round(F.sum(F.col("tf") * F.col("nll")) / F.sum("tf"), 6)
        .as("mean_nll"))
  }

  /** Feature-hashed bag-of-words document vector (the hashing trick):
    * per-dimension token counts under the engine-portable md5 hash,
    * L2-normalized — a training-free, vocabulary-free document embedding
    * every [[Similarity]] operator can consume. Pure narrow map
    * (no model state, no shuffle), O(dim·tokens) per row in array
    * expressions, so embedding a corpus scales with input splits.
    * Deterministic end to end: counts are integers, the norm folds
    * integer squares in array order, and each component rounds to 6 —
    * an oracle replays the vector exactly. */
  def hashEmbedding(text: Column, dim: Int = 32): Column = {
    import graft.functions.ExprUtils.let
    let(F.transform(bucketCounts(text, dim),
        (c: Column) => c.cast("double"))) { counts =>
      let(F.sqrt(F.aggregate(counts, F.lit(0.0),
          (a: Column, c: Column) => a + c * c))) { norm =>
        F.transform(counts, (c: Column) =>
          F.when(norm > 0, F.round(c / norm, 6)).otherwise(F.lit(0.0)))
      }
    }
  }

  /** The shared tokenize → md5-bucket → per-dimension-count pipeline
    * under [[hashEmbedding]] (which normalizes it to doubles) and
    * [[hashCounts]] (which keeps raw int64 counts): ONE source of
    * truth for the expression tree both engines must replay
    * bit-exactly. NULL text propagates as a NULL vector (the engine's
    * general null contract) — callers that want null = zero vector
    * coalesce the text column first, as [[classifierTrain]] /
    * [[classifierScore]] do. */
  private def bucketCounts(text: Column, dim: Int): Column = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    import graft.functions.ExprUtils.let
    let(tokens(F.lower(text))) { toks =>
      let(F.transform(toks, (t: Column) => Dedup.md5Hash60(t) % dim)) {
        buckets =>
          F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
            (b: Column) => F.size(F.filter(buckets,
              (x: Column) => x === b.cast("long"))).cast("long"))
      }
    }
  }

  /** CLASSIFIER-based quality filtering — the fastText-style linear
    * scorer of the standard pipeline (a trained model's weights applied
    * over the [[hashEmbedding]] features): logit = w · e + b where e is
    * the hashed document embedding in INTEGER MICRO-UNITS and `weights`
    * an integer weight vector (train offline, ship literals). The dot
    * is pure int64 arithmetic — the gate replay is exact, zero float
    * ulps — and the whole filter is a narrow codegen'd map at any
    * corpus size (the same zero-state shape as the heuristic
    * [[qualityScore]]; this is the learned sibling). Returns
    * (id, logit_micro, keep = logit > threshold). */
  def classifierQuality(df: DataFrame, textCol: String, idCol: String,
                        weights: Seq[Long], bias: Long = 0L,
                        threshold: Long = 0L): DataFrame = {
    import graft.functions.ExprUtils.let
    val dim = weights.length
    require(dim >= 1, "classifierQuality needs a non-empty weight vector")
    val w = F.array(weights.map(F.lit): _*)
    val eMicro = F.transform(hashEmbedding(F.col(textCol), dim),
      (x: Column) => F.round(x * 1e6).cast("long"))
    df.select(F.col(idCol),
        let(F.aggregate(
          F.zip_with(eMicro, w, (a: Column, b: Column) => a * b),
          F.lit(bias), (acc: Column, x: Column) => acc + x)) { logit =>
          F.struct(logit.as("logit_micro"),
            (logit > threshold).as("keep"))
        }.as("_s"))
      .select(F.col(idCol), F.col("_s.logit_micro").as("logit_micro"),
        F.col("_s.keep").as("keep"))
  }

  /** Feature-hashed bag-of-words token COUNTS (the integer sibling of
    * [[hashEmbedding]], which L2-normalizes): per-dimension token
    * counts under the engine-portable md5 hash, as int64. The training
    * feature for [[classifierTrain]] — all-integer features keep the
    * whole training loop in exact arithmetic, so an oracle replays it
    * bit-for-bit (no float-summation order to diverge on). Pure narrow
    * map, O(dim·tokens) per row. */
  def hashCounts(text: Column, dim: Int = 32): Column =
    bucketCounts(text, dim)

  /** Distributed linear-classifier TRAINING — the learning half of
    * [[classifierQuality]] (which ships offline-trained weights): a
    * NEAREST-CENTROID (Rocchio) model over [[hashCounts]] features.
    * w = μ₊ − μ₋ in integer MILLI-UNITS (each class mean rounded once:
    * round(Σe·10³/n) — one IEEE division + one half-away round per
    * component, the same proven-replayable move as the q107/q156
    * embedding quantization) and the decision threshold at the midpoint
    * projection: pred ⇔ 2·10³·(w·e) > w·μ₊ + w·μ₋. Every published
    * number is int64, so an oracle replays TRAINING, not just scoring.
    * Milli, not micro: the score 2·10³·(w·e) must stay inside int64
    * for ANY document (Spark under ansi=false would wrap silently
    * while DuckDB promotes to HUGEINT and the gate would diverge) —
    * at 10³ scale even a 10⁶-token document against extreme weights
    * sits 4 orders of magnitude under Long.MaxValue, and quantizing
    * class means to 3 decimals moves no real decision boundary.
    * NULL text trains and scores as the zero vector (coalesced before
    * hashing).
    *
    * Why closed-form and not gradient epochs: batch-gradient
    * perceptron/SGD iterations either oscillate at lr=1 (the full-batch
    * update overshoots and cycles — measured, not hypothesized) or
    * need float state that no hash gate can replay across engines;
    * the centroid model is the one classical linear text classifier
    * whose training IS a single aggregation — and at 100 TB that is
    * the whole point: ONE pass over the corpus (map-side-combined
    * per-class count + per-dimension sums, a 2×(dim+1)-cell result),
    * driver state = two dim-vectors, no epochs, no persisted feature
    * frame, no collect wider than dim.
    *
    * Returns (w, threshold): MILLI-unit weights (length dim) and the
    * midpoint threshold for [[classifierScore]]'s integer decision. */
  def classifierTrain(df: DataFrame, textCol: String, labelCol: String,
                      dim: Int = 32): (Array[Long], Long) = {
    val feats = df.select(
        hashCounts(F.coalesce(F.col(textCol), F.lit("")), dim).as("e"),
        F.col(labelCol).cast("long").as("y"))
      .where(F.col("y").isInCollection(Seq(-1L, 1L)))
    val sums = (0 until dim).map(i =>
      F.sum(F.col("e").getItem(i)).as(s"s$i"))
    val rows = feats.groupBy("y")
      .agg(F.count(F.lit(1)).as("n"), sums: _*)
      .collect() // exactly 2 rows of (y, n, dim sums)
    require(rows.length == 2,
      s"classifierTrain needs BOTH labels present, got ${rows.length} " +
        "class(es) — a one-class corpus has no decision boundary")
    def mu(y: Long): Array[Long] = {
      val r = rows.find(_.getLong(0) == y)
        .getOrElse(throw new IllegalArgumentException(
          s"classifierTrain labels must be exactly {-1, 1}; $y missing"))
      val n = r.getLong(1).toDouble
      (0 until dim).map { i =>
        // counts are nonnegative, so HALF UP == SQL round()'s half away
        // from zero; the division is one IEEE op — bit-identical in any
        // engine, the q107/q156 micro-unit pattern (at milli scale)
        math.floor(r.getLong(2 + i).toDouble * 1e3 / n + 0.5).toLong
      }.toArray
    }
    val (muP, muN) = (mu(1L), mu(-1L))
    val w = muP.zip(muN).map { case (a, b) => a - b }
    val t = w.zip(muP).map { case (a, b) => a * b }.sum +
      w.zip(muN).map { case (a, b) => a * b }.sum
    (w, t)
  }

  /** Score a corpus with a [[classifierTrain]] model: score =
    * 2·10³·(w·e) − t (all int64; positive ⇔ nearer the positive
    * centroid). Returns (idCol, label, score, pred) — a narrow
    * codegen'd map, zero state, splits-parallel at any corpus size. */
  def classifierScore(df: DataFrame, textCol: String, idCol: String,
                      labelCol: String, w: Seq[Long], t: Long): DataFrame = {
    require(w.nonEmpty, "weight vector must carry at least 1 feature")
    val wLit = F.array(w.map(F.lit): _*)
    df.select(F.col(idCol), F.col(labelCol).cast("long").as("label"),
        (F.lit(2000L) * F.aggregate(
          F.zip_with(
            hashCounts(F.coalesce(F.col(textCol), F.lit("")), w.length),
            wLit, (a: Column, b: Column) => a * b),
          F.lit(0L), (acc: Column, x: Column) => acc + x) - F.lit(t))
          .as("score"))
      .withColumn("pred", F.col("score") > 0)
  }

  /** Inverted index build: token → (document frequency, sorted posting
    * list capped at `maxPostings`). The serving-side artifact of a corpus
    * (search, decontamination lookups, vocabulary audits).
    *
    * Scale shape: `array_distinct` BEFORE the explode dedupes within the
    * document as a narrow map, so each (doc, token) reaches the shuffle
    * once; the groupBy is one token-keyed aggregation with map-side
    * combine. The posting-list cap bounds per-group state: with the
    * native `topk_pairs` bounded-heap aggregate (constant score, so its
    * lower-id tie-break keeps exactly the smallest `maxPostings` ids,
    * already ascending), a stopword's bucket carries at most
    * `maxPostings` ids plus a count at EVERY stage — partial, shuffle,
    * and merge — never the full corpus. Kept ids are the smallest
    * `maxPostings` — deterministic and replayable by an oracle. */
  def invertedIndex(df: DataFrame, textCol: String, idCol: String,
                    maxPostings: Int = 50): DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    val pairs = df.select(F.col(idCol),
      F.explode(F.array_distinct(tokens(F.lower(F.col(textCol))))).as("token"))
    pairs.groupBy("token")
      .agg(F.count(F.lit(1)).as("n_docs"),
           F.call_function("topk_pairs",
             F.lit(0.0), F.col(idCol).cast("long"), F.lit(maxPostings)).as("_top"))
      .select(F.col("token"), F.col("n_docs"),
              F.transform(F.col("_top"), (t: Column) => t.getField("id"))
                .as("postings"))
  }

  /** All text statistics as one projection — single pass over the
    * corpus: the counting side is the native `text_stats` walk and
    * quality/lang come from the fused [[docSignals]] (identical values
    * to the stand-alone columns — the same oracles gate both). */
  def profile(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val st = F.call_function("text_stats", t)
    val sig = docSignals(t)
    df.withColumn("n_tokens", st.getField("n_tokens"))
      .withColumn("n_subwords", st.getField("n_subwords"))
      .withColumn("n_punct", st.getField("n_punct"))
      .withColumn("n_stopwords", st.getField("n_stopwords"))
      .withColumn("quality", sig.getField("quality"))
      .withColumn("lang_guess", sig.getField("lang_guess"))
      .withColumn("fp_md5", fingerprint(t))
  }
}
