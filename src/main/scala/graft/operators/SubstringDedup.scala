package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, Utf8}

/** Exact-substring duplicate removal, Spark-first.
  *
  * Semantics (the reference contract, cpp_engine_dedup.h:215-302):
  * a byte position p=(doc k, offset o) is REMOVABLE iff the minLen-byte
  * window at p fits inside the doc and an identical window exists at some
  * position q strictly before p in (k, o) order; remove ranges are the
  * interval-union of [o, o+minLen) over removable positions, coalescing
  * overlap OR touch (h:287-291); writeback clips ranges to UTF-8 char
  * boundaries and cuts (mode=remove) or annotates (mode=annotate)
  * (write_back_to_jsonl_sharded.py:75-101).
  *
  * The reference builds a per-shard suffix array and scans adjacent ranks
  * for shared minLen prefixes. A maximal same-prefix SA run IS the equality
  * class of positions with identical minLen-byte windows, so we skip the SA
  * entirely: key every position by a 122-bit rolling hash of its window
  * (O(1)/byte, PolyHash), hash-partition on that key, sort within
  * partitions and scan adjacent rows -- one window-generation pass, one
  * exchange; the literal distributed transcription of the reference loop
  * (h:417-472). Like the reference, which templates its one engine over
  * the unit type (u8 bytes / u16, u32 token ids, h:70-77), there is ONE
  * spine -- window generation, run scan, verifier, coalescer -- and the
  * unit (`WindowUnit`: bytes, whitespace tokens or pre-tokenized ids,
  * forward or reversed) only chooses the per-doc sequence and the exact
  * window key. Candidates are optionally re-verified against that exact
  * key (`verifyBytes`) so a hash collision can never remove a
  * non-duplicate window -- the re-extraction touches only positions
  * inside duplicate groups, not the whole corpus.
  *
  * Bytes above minLen 32 (the reference's production minLen is 500) run
  * a doc-level prefilter first, blocking-then-verify: winnowing
  * fingerprints (Schleimer et al., SIGMOD'03) with w = minLen / 8 mark
  * every doc that shares or repeats a minLen-byte run
  * (`NativeKernels.runFingerprints`), and the spine above runs on those
  * docs only. It is exact -- every doc holding a removable window is
  * marked, and so is its keeper's -- and a MinHash-deduped corpus leaves
  * few marked docs, so the window sort shrinks to match.
  *
  * Measured and deleted (BASELINE.md): a salted hash-aggregate plan (~3x
  * slower than the sort-scan at sf0.1, round 2) and an h1-count
  * prefilter plan with a density-adaptive chooser (slower at every
  * measured density, round 4: it still shuffled one row per window; the
  * fingerprint prefilter drops rows before its first exchange).
  *
  * Scale notes (100 TB): window rows are 4 longs (~28 B/position) --
  * comparable to the reference's 8N suffix-array footprint -- and flow
  * through a single hash-partitioned shuffle; no stage ever materializes
  * window bytes except for the (small) duplicate-group verification join,
  * which AQE skew-join splits if one window is viral. Above minLen 32 the
  * fingerprint exchange carries about 2 / (w + 1) of the windows (~3% at
  * minLen 500) and the window shuffle only the marked docs' windows; a
  * viral fingerprint collapses in the partial count, and only the
  * semi-join back to its holders grows with it.
  *
  * Input contract: df(k: Long, text: String) where ascending `k` defines
  * the stable global first-occurrence order (the reference's
  * (shard, global_ptr) order, h:717-724).
  */
object SubstringDedup {

  /** `verifyPrune`: semi-join-prune the corpus side of the verification
    * joins down to the candidate doc keys (and pin both so the corpus is
    * scanned once instead of twice). Pays when one corpus scan is
    * expensive relative to a handful of extra scheduled jobs -- e.g. the
    * JSONL workflow, whose scan decompresses every shard (JsonlDedupJob
    * passes true); costs more than it saves on cheap vectorized parquet
    * scans at fixture scale. Measured round 6 (sf0.1 / 330 MB jsonl,
    * local[32]): prune ON made the parquet-backed a1 query 1.8 -> 2.5 s
    * (the extra pin/broadcast jobs dominate) while the gzip jsonl
    * workflow pass went 26.7 -> 23.0 s best-of-2 (one pruned corpus scan
    * instead of two full decompressions). Hence default off, JSONL on.
    * Today it applies to the token and id units, `dupPtrs` and
    * `dupDocSlices`; the byte unit above minLen 32 ignores it and adds no
    * corpus pin of its own: the fingerprint prefilter already pins the
    * marked docs once, and the verification joins read that pin.
    */
  case class Config(
      minLen: Int,
      verifyBytes: Boolean = true,
      verifyPrune: Boolean = false)

  /** The unit windows are counted in. It decides exactly two things: the
    * per-doc sequence the window generator rolls over (`seq`, in original
    * orientation), and the exact equality key of the window at a position
    * (`key`, what verification compares). `reversed` (token/id units):
    * the reference's --reversed indexes the mirrored stream
    * (suffix-vs-prefix duplication); windows are generated over the
    * reversed sequence and `pos` reports the REVERSED-stream offset, so
    * first-occurrence keep order matches the reference's reversed scan.
    */
  private[graft] sealed abstract class WindowUnit {
    def reversed: Boolean
    /** The doc as a sequence: binary (bytes) or an array (tokens, ids). */
    def seq: Column
    /** Exact key of the `len`-unit window at 0-based `pos` (a column
      * name) of the oriented sequence column named `s`.
      */
    def key(s: String, pos: String, len: Int): Column
  }

  /** UTF-8 bytes of `text` (the reference default). The key is the raw
    * slice up to 32 bytes (no wider than a sha2-256 digest, so digesting
    * is pure CPU overhead) and its digest above, which keeps the shuffled
    * row at a flat 32 B regardless of minLen.
    */
  private[graft] case object Bytes extends WindowUnit {
    val reversed = false
    def seq: Column = encode(col("text"), "UTF-8")
    def key(s: String, pos: String, len: Int): Column = {
      val w = expr(s"substring($s, $pos + 1, $len)")
      if (len <= 32) w else sha2(w, 256)
    }
  }

  /** Whitespace tokens of `text` (reference C2; split ' ' + drop empties).
    * Each token's digit is the polyhash of its UTF-8 bytes: a pure
    * function of the token, so no vocabulary table is built, broadcast or
    * synchronized. Key: sha2 of the NUL-joined tokens.
    */
  private[graft] case class Tokens(reversed: Boolean) extends WindowUnit {
    def seq: Column = filter(split(col("text"), " "), t => t =!= "")
    def key(s: String, pos: String, len: Int): Column =
      sha2(encode(concat_ws("\u0000", slice(col(s), col(pos) + 1, lit(len))), "UTF-8"), 256)
  }

  /** A PRE-TOKENIZED `tokens: array<int|long>` field -- the reference's
    * production mode (indexing_v6_sharded.py:205-218 tokenizes up front,
    * the engine consumes u16/u32 id streams): the vocabulary lives with
    * the caller and the ids are the window digits directly. Key: sha2 of
    * the comma-joined decimal ids (',' never occurs inside a decimal int,
    * so the join is injective).
    */
  private[graft] case class Ids(reversed: Boolean) extends WindowUnit {
    def seq: Column = col("tokens").cast("array<long>")
    def key(s: String, pos: String, len: Int): Column =
      sha2(encode(concat_ws(",",
        transform(slice(col(s), col(pos) + 1, lit(len)), _.cast("string"))), "UTF-8"), 256)
  }

  /** One row per in-doc window position: (h1, h2, k, pos).
    * pos is a 0-based byte offset; docs shorter than minLen emit nothing
    * (reference bounds predicate h:232-233).
    */
  def windows(docs: DataFrame, minLen: Int): DataFrame =
    unitWindows(docs, Bytes, minLen)

  /** The one window-generation call site: (h1, h2, k, pos[, w]) per in-doc
    * window of `unit`. Native Generator (functions/Native.scala
    * GraftWindowGen): zero per-position allocation and no typed
    * serialization boundary -- null text (e.g. an image row with no
    * caption) = no windows, same as a doc shorter than minLen (Generate
    * outer=false drops the row). `withBytes` (byte unit only) also emits
    * each window's raw bytes as `w`.
    */
  private def unitWindows(docs: DataFrame, unit: WindowUnit, minLen: Int,
                          withBytes: Boolean = false): DataFrame = {
    val gen = Seq("h1", "h2", "pos") ++ (if (withBytes) Seq("w") else Nil)
    docs
      .select(col("k").cast("long").as("k"), unit.seq.as("b"))
      .select(col("k"),
        GraftFunctions.windowGen(col("b"), minLen, unit.reversed, withBytes).as(gen))
      .select((Seq("h1", "h2", "k") ++ gen.drop(2)).map(col): _*)
  }

  /** Co-locate equal (h1, h2) windows and sort them by (h1, h2, k, pos):
    * the input contract of every run scan. HASH repartition, not range:
    * equal keys co-locate either way (all we need -- the reference's
    * run-aligned boundary rule, h:324-338), but RangePartitioner runs a
    * separate sampling job over the input, i.e. a second full
    * window-generation pass. Hash keys are uniform by construction, so
    * hash partitioning is also perfectly balanced.
    */
  private def sortedByKey(win: DataFrame): DataFrame =
    win.repartition(col("h1"), col("h2"))
      .sortWithinPartitions("h1", "h2", "k", "pos")

  /** Sort-scan run detection that also carries each run's keeper: within a
    * partition rows arrive sorted by (h1,h2,k,pos), so the first row of a
    * run is its minimum (k,pos) -- exactly the reference's
    * min_element-of-run keep rule (h:239-246). Output
    * (k, pos, keep_k, keep_pos) for every non-first run member.
    */
  private def runScan(win: DataFrame): DataFrame = {
    // MEASURED (round 6, sf0.1, min-of-2): a WindowExec variant
    // (first_value over partitionBy(h1,h2), which reuses this exact sort
    // and avoids the typed boundary) was SLOWER -- a1 1.68 -> 2.63 s,
    // five-query family total 5.35 -> 6.95 s -- because per-group window
    // machinery over ~1e8 mostly-singleton groups costs more than the
    // tuple deserialization it removes. The typed adjacent scan stays.
    val spark = win.sparkSession
    import spark.implicits._
    sortedByKey(win)
      .select("h1", "h2", "k", "pos")
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        var ph1 = 0L; var ph2 = 0L; var kk = 0L; var kp = 0L; var first = true
        it.flatMap { case (h1, h2, k, pos) =>
          val isNewRun = first || h1 != ph1 || h2 != ph2
          ph1 = h1; ph2 = h2; first = false
          if (isNewRun) { kk = k; kp = pos; None }
          else Some((k, pos, kk, kp))
        }
      }
      .toDF("k", "pos", "keep_k", "keep_pos")
  }

  /** The corpus as (vk, vb): doc key and the ORIENTED unit sequence --
    * what verification slices exact window keys out of.
    */
  private def corpus(docs: DataFrame, unit: WindowUnit): DataFrame =
    docs.select(col("k").cast("long").as("vk"),
      (if (unit.reversed) reverse(unit.seq) else unit.seq).as("vb"))

  /** Doc-key prune: a broadcast semi-join of a frame's doc-key column
    * `key` against the doc keys `keys` (column "ck", deduplicated here).
    * Duplicate positions cluster in few docs, so this drops the
    * non-duplicate majority of the corpus before any bytes are shuffled
    * or digested. `pin` pins the
    * pruned frame when the caller reads it twice, so the corpus is
    * scanned ONCE. At 1e9+ dup-doc scale the broadcast key set would be
    * replaced by a Bloom filter (guide §3.2 shape); doc-key cardinality at
    * the measured densities stays far under the broadcast cap.
    */
  private def pruneToKeys(df: DataFrame, key: String, keys: DataFrame, pin: Boolean): DataFrame = {
    val pruned = df.join(broadcast(keys.distinct()), col(key) === col("ck"), "leftsemi")
    if (pin) pruned.localCheckpoint(true) else pruned
  }

  /** Verify candidate pairs: re-extract the exact key of the window at
    * both sides of each (k,pos) -> (keep_k,keep_pos) candidate and demand
    * equality -- the same exactness standard ExactDedup applies to whole
    * documents, and linear in the number of *duplicate* positions only.
    *
    * Shuffle shape: a single linear two-join chain; each extracted window
    * is reduced to its key IN the join projection, so nothing downstream
    * ever carries raw windows. (Carrying raw minLen-byte windows between
    * the joins shuffled ~1 KB per candidate at the reference's production
    * minLen=500 and measured 61 s of a 110 s job; a distinct-position
    * pre-extraction table was tried and was WORSE at small minLen -- it
    * adds a union+distinct and two extra joins over millions of rows.)
    *
    * With `prune` (Config.verifyPrune) the corpus side is pruned to the
    * candidates' doc keys (k union keep_k) and pinned; the caller must
    * then pin `candidates` (it feeds the key set and the join probe).
    */
  private def verifyCandidates(docs: DataFrame, unit: WindowUnit,
                               candidates: DataFrame, minLen: Int,
                               prune: Boolean): DataFrame = {
    val vb0 = corpus(docs, unit)
    val vb = if (!prune) vb0 else pruneToKeys(vb0, "vk",
      candidates.select(col("k").as("ck"))
        .unionAll(candidates.select(col("keep_k").as("ck"))), pin = true)
    candidates
      .join(vb, col("k") === col("vk"))
      .withColumn("wd_self", unit.key("vb", "pos", minLen))
      .drop("vk", "vb")
      .join(vb, col("keep_k") === col("vk"))
      .withColumn("wd_keep", unit.key("vb", "keep_pos", minLen))
      .where(col("wd_self") === col("wd_keep"))
      .select("k", "pos")
  }

  /** Byte-verified removable positions with the verification fused into
    * the run scan: windows carry their raw bytes through the hash
    * exchange (GraftWindowGen withBytes), and a continuing run member is
    * removable iff its bytes equal the run's FIRST member's bytes --
    * identical keeper-equality contract to `verifyCandidates`, no joins.
    * Intended for minLen <= 32 (window no wider than a digest).
    */
  private def inlineVerifiedRemovable(docs: DataFrame, minLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    sortedByKey(unitWindows(docs, Bytes, minLen, withBytes = true))
      .as[(Long, Long, Long, Long, Array[Byte])]
      .mapPartitions { it =>
        var ph1 = 0L; var ph2 = 0L; var kw: Array[Byte] = null; var first = true
        it.flatMap { case (h1, h2, k, pos, w) =>
          val isNewRun = first || h1 != ph1 || h2 != ph2
          ph1 = h1; ph2 = h2; first = false
          if (isNewRun) { kw = w; None }
          else if (java.util.Arrays.equals(w, kw)) Some((k, pos))
          else None // 122-bit collision: bytes differ from the keeper's
        }
      }
      .toDF("k", "pos")
  }

  /** Doc keys ("ck") of the docs that may hold a removable minLen-byte
    * window: every doc holding a run fingerprint (NativeKernels
    * .runFingerprints) that occurs twice overall -- in two docs, or twice
    * in one. A doc holding a removable window also holds its keeper's
    * window, or is the keeper's doc, so the runs and keepers among these
    * docs are exactly those of the whole corpus. Skew-safe: the (k, fp)
    * rows are pinned, counted per fingerprint with a partial aggregate (a
    * viral fingerprint collapses map-side) and semi-joined back; no
    * per-fingerprint doc list is ever built. Keys may repeat.
    */
  private[graft] def runCandidateKeys(docs: DataFrame, minLen: Int): DataFrame = {
    val fps = docs
      .select(col("k").cast("long").as("k"),
        explode(GraftFunctions.runFingerprints(Bytes.seq, minLen)).as("fp"))
      .localCheckpoint(true)
    val shared = fps.groupBy("fp").count().where(col("count") >= 2).select("fp")
    fps.join(shared, Seq("fp"), "leftsemi").select(col("k").as("ck"))
  }

  /** Remove ranges (k, s, e) of `unit` windows, in unit offsets over the
    * (optionally reversed) sequence; `cfg.minLen` counts units.
    */
  private[graft] def removeRanges(docs: DataFrame, unit: WindowUnit, cfg: Config): DataFrame = {
    val removable =
      if (cfg.verifyBytes && unit == Bytes && cfg.minLen <= 32) {
        // INLINE verification (round 6): at minLen <= 32 the raw window is
        // no wider than the sha2 digest the join path would ship, so carry
        // the window bytes through the ONE hash exchange and byte-compare
        // each run member against its run's first row during the scan
        // itself -- the same candidate-vs-keeper equality the digest joins
        // compute, with zero corpus re-scans, zero broadcast builds and
        // zero joins. Above 32 bytes the join path stays (inlining a
        // 500-byte window would multiply the exchange ~16x; the digests
        // keep it flat).
        inlineVerifiedRemovable(docs, cfg.minLen)
      } else {
        // FINGERPRINT PREFILTER (bytes above 32): the spine runs over the
        // marked docs only, pinned once -- the window sort and both
        // verification joins read that pin, so no verifyPrune is needed
        val prefilter = unit == Bytes && cfg.minLen > 32
        val src = if (!prefilter) docs else
          pruneToKeys(docs.select(col("k").cast("long").as("k"), col("text")),
            "k", runCandidateKeys(docs, cfg.minLen), pin = true)
        val prune = cfg.verifyPrune && !prefilter
        // with the prune, pin the (small: duplicate positions only)
        // candidate set: it feeds the doc-key prune AND the key joins in
        // verifyCandidates, and recomputing it would re-run the full
        // window sort per consumer; without the prune the chain is linear
        // and stays fully lazy
        val cand0 = runScan(unitWindows(src, unit, cfg.minLen))
        if (!cfg.verifyBytes) cand0.select("k", "pos")
        else verifyCandidates(src, unit,
          if (prune) cand0.localCheckpoint(true) else cand0, cfg.minLen, prune)
      }
    coalesceRanges(removable, cfg.minLen)
  }

  /** Coalesce sorted removable positions into [s, e) ranges per doc.
    * Gaps-and-islands: all windows share length minLen, so ends are
    * monotone in pos and "overlap or touch" is simply
    * pos <= prev_pos + minLen (reference h:287-291).
    */
  def coalesceRanges(removable: DataFrame, minLen: Int): DataFrame = {
    // one exchange on k + one in-partition sorted linear merge: all
    // windows share length minLen, so ends are monotone in pos and a
    // position extends the open range iff pos <= range_end (overlap OR
    // touch). Replaces the previous lag-window + running-sum-window +
    // groupBy chain -- same exchange, but one streaming pass instead of
    // two WindowExec passes and a hash aggregate (round 6; identical
    // ranges, oracle-checked).
    val spark = removable.sparkSession
    import spark.implicits._
    removable
      .select(col("k").cast("long"), col("pos").cast("long"))
      .repartition(col("k"))
      .sortWithinPartitions("k", "pos")
      .as[(Long, Long)]
      .mapPartitions { it =>
        new Iterator[(Long, Long, Long)] {
          private var have = false
          private var ck = 0L; private var cs = 0L; private var ce = 0L
          private var pending: (Long, Long, Long) = null
          private def emitOpen(): (Long, Long, Long) = { have = false; (ck, cs, ce) }
          private def advance(): (Long, Long, Long) = {
            while (it.hasNext) {
              val (k, pos) = it.next()
              if (!have) { have = true; ck = k; cs = pos; ce = pos + minLen }
              else if (k == ck && pos <= ce) { if (pos + minLen > ce) ce = pos + minLen }
              else { val out = emitOpen(); have = true; ck = k; cs = pos; ce = pos + minLen; return out }
            }
            if (have) emitOpen() else null
          }
          pending = advance()
          def hasNext: Boolean = pending != null
          def next(): (Long, Long, Long) = { val r = pending; pending = advance(); r }
        }
      }
      .toDF("k", "s", "e")
  }

  /** Full pipeline: docs(k, text) -> remove_ranges(k, s, e), unclipped
    * byte offsets (the reference's remove_ranges file, h:294-297): the
    * sort-scan with byte verification of candidates when
    * cfg.verifyBytes.
    */
  def removeRanges(docs: DataFrame, cfg: Config): DataFrame =
    removeRanges(docs, Bytes, cfg)

  /** Token-unit remove ranges: docs(k, text) -> (k, s, e) in TOKEN
    * offsets over the (optionally reversed) whitespace token stream --
    * C2's find_remove_ranges for tokenized corpora. Verification is
    * token-exact by default.
    */
  def removeRangesTokens(docs: DataFrame, minLenTok: Int,
                         verify: Boolean = true, reversed: Boolean = false,
                         verifyPrune: Boolean = false): DataFrame =
    removeRanges(docs, Tokens(reversed), Config(minLenTok, verify, verifyPrune))

  /** Pre-tokenized-id remove ranges: docs(k, tokens: array<int|long>) ->
    * (k, s, e) in TOKEN offsets over the (optionally reversed) id stream
    * -- C2's find_remove_ranges for already-tokenized corpora, the
    * reference's production input shape. Verification is id-exact by
    * default.
    */
  def removeRangesIds(docs: DataFrame, minLenTok: Int,
                      verify: Boolean = true, reversed: Boolean = false,
                      verifyPrune: Boolean = false): DataFrame =
    removeRanges(docs, Ids(reversed), Config(minLenTok, verify, verifyPrune))

  /** Annotate mode: original rows + sa_remove_ranges (UTF-8-clipped),
    * sorted by range start; docs without duplicates get an empty array.
    */
  def annotate(docs: DataFrame, cfg: Config): DataFrame =
    annotateWith(docs, removeRanges(docs, cfg))

  /** Annotate from an already-computed ranges table (k, s, e) -- the
    * checkpoint seam: remove_ranges is the reference workflow's resume
    * artifact between find_remove_ranges and write_back
    * (aws_workflow.sh:123-138), so callers can snapshot the narrow ranges
    * and re-enter here without re-running the dedup.
    */
  def annotateWith(docs: DataFrame, rangesTable: DataFrame): DataFrame = {
    val ranges = rangesTable
      .groupBy("k")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("raw"))
    docs
      .withColumn("k", col("k").cast("long"))
      .join(ranges, Seq("k"), "left")
      .withColumn("raw",
        coalesce(col("raw"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("sa_remove_ranges", Utf8.clip(encode(col("text"), "UTF-8"), col("raw")))
      .drop("raw")
  }

  /** Remove mode: duplicated substrings cut out of the text. */
  def remove(docs: DataFrame, cfg: Config): DataFrame =
    annotate(docs, cfg)
      .withColumn("text_deduped",
        Utf8.removeMode(encode(col("text"), "UTF-8"), col("sa_remove_ranges")))

  /** A9: index-order verification (reference verify_sa_correctness,
    * h:914-930, driven by verify_sa.py). The reference checks that
    * adjacent suffix-array ranks are non-decreasing under depth-`hack`
    * compare; our index is the (h1,h2)-sorted window frame, and the two
    * properties the dedup relies on are (a) the exchange+sort actually
    * delivers non-decreasing keys within every partition and (b) every
    * same-key run is byte-homogeneous (a 122-bit collision would merge
    * distinct windows into one run). One row per violation with a reason;
    * EMPTY OUTPUT = VERIFIED. Same cost shape as the dedup itself (full
    * window sort carrying the window bytes) -- run on fixtures/samples.
    */
  def windowOrderViolations(docs: DataFrame, minLen: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    sortedByKey(unitWindows(docs, Bytes, minLen, withBytes = true))
      .as[(Long, Long, Long, Long, Array[Byte])]
      .mapPartitions { it =>
        var ph1 = 0L; var ph2 = 0L; var pw: Array[Byte] = null; var first = true
        it.flatMap { case (h1, h2, k, pos, w) =>
          val out =
            if (first) Nil
            else if (h1 < ph1 || (h1 == ph1 && h2 < ph2))
              Seq((k, pos, "sort_order"))
            else if (h1 == ph1 && h2 == ph2 && !java.util.Arrays.equals(w, pw))
              Seq((k, pos, "hash_collision"))
            else Nil
          ph1 = h1; ph2 = h2; pw = w; first = false
          out
        }
      }
      .toDF("k", "pos", "violation")
  }

  /** A7 full dup-doc assembly (reference find_dup_docs,
    * cpp_engine_dedup.h:839-867): every duplicate-group pointer joined
    * back to its document with the actual window bytes sliced out --
    * (k, pos, dropped, snippet). The reference returns each dup doc's
    * text plus per-ptr spans with kept/dropped flags for its diagnostic
    * renderer (find_dup_docs.cpp:18-68); this is that payload in flat
    * form (one row per span), feeding graft.Render for the B10 overlay.
    */
  def dupDocSlices(docs: DataFrame, cfg: Config): DataFrame = {
    // with verifyPrune: pin the (small) pointer table -- it feeds the
    // doc-key prune and the snippet join -- and prune the corpus bytes to
    // dup docs before any text is shuffled
    val ptrs0 = dupPtrs(docs, cfg)
    val ptrs = if (cfg.verifyPrune) ptrs0.localCheckpoint(true) else ptrs0
    val vb0 = corpus(docs, Bytes)
    val vb = if (!cfg.verifyPrune) vb0
      else pruneToKeys(vb0, "vk", ptrs.select(col("k").as("ck")), pin = false)
    ptrs
      .join(vb, col("k") === col("vk"))
      .select(col("k"), col("pos"), col("dropped"),
        decode(expr(s"substring(vb, pos + 1, ${cfg.minLen})"), "UTF-8").as("snippet"))
  }

  /** Diagnostics (reference find_dup_ptrs, h:801-837): every member of a
    * duplicate group with dropped flag; the kept (first) one has
    * dropped=false.
    *
    * Verification policy matches removeRanges: with cfg.verifyBytes the
    * hash-dup rows (a tiny fraction of the corpus) are re-joined to their
    * actual window bytes and regrouped on those bytes, so a 122-bit hash
    * collision can neither create a phantom group nor misattribute the
    * dropped flag. Byte-equal windows always share (h1,h2), so regrouping
    * within the hash-dup set is exhaustive.
    */
  def dupPtrs(docs: DataFrame, cfg: Config): DataFrame = {
    // multi-member hash runs via the same one-pass adjacent scan the
    // dedup uses (one hash exchange + in-partition sort), instead of the
    // previous count()-over-(h1,h2)-window + row_number() pass, which ran
    // the full window frame through WindowExec's per-group buffering
    // twice (round-6 guide §2.4: same co-location, strictly less
    // machinery). Emits every member of a >= 2-member run with its
    // first-occurrence flag.
    val hashDups = {
      val spark = docs.sparkSession
      import spark.implicits._
      sortedByKey(windows(docs, cfg.minLen))
        .select("h1", "h2", "k", "pos")
        .as[(Long, Long, Long, Long)]
        .mapPartitions { it =>
          // lookahead run scan: a row survives iff it CONTINUES its
          // predecessor (dropped=true) or its SUCCESSOR continues it
          // (the run's first member, dropped=false); singleton runs --
          // the vast majority -- are skipped right here
          val buf = it.buffered
          new Iterator[(Long, Long, Boolean)] {
            private var ph1 = 0L; private var ph2 = 0L; private var first = true
            private var nxt: (Long, Long, Boolean) = advance()
            @annotation.tailrec private def advance(): (Long, Long, Boolean) = {
              if (!buf.hasNext) null
              else {
                val (h1, h2, k, pos) = buf.next()
                val cont = !first && h1 == ph1 && h2 == ph2
                ph1 = h1; ph2 = h2; first = false
                if (cont) (k, pos, true)
                else if (buf.hasNext && buf.head._1 == h1 && buf.head._2 == h2)
                  (k, pos, false)
                else advance()
              }
            }
            def hasNext: Boolean = nxt != null
            def next(): (Long, Long, Boolean) = { val r = nxt; nxt = advance(); r }
          }
        }
        .toDF("k", "pos", "dropped")
    }
    if (!cfg.verifyBytes) {
      hashDups
    } else {
      // group on the exact window key (byte-equality standard; a digest
      // above 32 bytes keeps the regroup shuffle flat). With verifyPrune
      // the hash-dup pointer set is pinned (it feeds the doc-key prune
      // and the key join) and the corpus bytes are pruned to dup docs
      // before the join.
      val pinned =
        if (cfg.verifyPrune) hashDups.select("k", "pos").localCheckpoint(true)
        else hashDups.select("k", "pos")
      val vb0 = corpus(docs, Bytes)
      val vb = if (!cfg.verifyPrune) vb0
        else pruneToKeys(vb0, "vk", pinned.select(col("k").as("ck")), pin = false)
      val withDigest = pinned
        .join(vb, col("k") === col("vk"))
        .select(col("k"), col("pos"), Bytes.key("vb", "pos", cfg.minLen).as("w"))
      val byW = Window.partitionBy("w").orderBy("k", "pos")
      withDigest
        .withColumn("rn", row_number().over(byW))
        .withColumn("c2", count(lit(1)).over(Window.partitionBy("w")))
        .where(col("c2") > 1)
        .select(col("k"), col("pos"), (col("rn") > 1).as("dropped"))
    }
  }
}
