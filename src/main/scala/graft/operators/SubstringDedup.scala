package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
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
  * partitions and scan adjacent rows -- the literal distributed
  * transcription of the reference loop (h:417-472). Like the reference,
  * which templates its one engine over the unit type (u8 bytes / u16, u32
  * token ids, h:70-77), there is ONE spine, and the unit (`WindowUnit`:
  * bytes, whitespace tokens or pre-tokenized ids, forward or reversed)
  * answers everything the spine asks of it: the per-doc sequence, the
  * exact window key, whether its windows carry that key themselves, and
  * which docs can hold a run -- and, at writeback, the annotation column
  * and how its ranges are cut out.
  *
  * The spine is the members of exact duplicate groups (`members`, the
  * reference's find_dup_ptrs, h:801-837): ONE run scan over windows
  * sorted on (h1, h2, x, k, pos) emits every member of a run of >= 2
  * equal (h1, h2, x) rows, the run's first row -- its (k, pos) minimum,
  * the keeper (h:239-246) -- with dropped = false. `x` is the exact
  * window key, and ONE verifier decides where it comes from: the window
  * bytes the generator carries (bytes at minLen <= 32), or else null on
  * a first scan whose hash-run members are joined to the corpus once,
  * keyed, and scanned again. Like the reference, which memcmps every
  * window it keeps or drops (h:233-234), no group is ever decided by the
  * hash alone: every member is compared with its exact equals, not with
  * its hash run's first row, so the result is exact under hash
  * collisions: in a hash run [A, B, B'] with B = B' != A, B' is
  * removable and B is not. `dupPtrs` is the members; `removeRanges` is
  * their dropped rows, coalesced.
  *
  * Bytes above minLen 32 (the reference's production minLen is 500) run
  * a doc-level prefilter first, blocking-then-verify: winnowing
  * fingerprints (Schleimer et al., SIGMOD'03) with w = minLen / 8 mark
  * every doc that shares or repeats a minLen-byte run
  * (`NativeKernels.runFingerprints`), and the spine runs on those docs
  * only. It is exact -- every member of a duplicate group holds a shared
  * fingerprint -- and a MinHash-deduped corpus leaves few marked docs,
  * so the window sort shrinks to match.
  *
  * Measured and deleted (BASELINE.md): a salted hash-aggregate plan (~3x
  * slower than the sort-scan at sf0.1, round 2) and an h1-count
  * prefilter plan with a density-adaptive chooser (slower at every
  * measured density, round 4: it still shuffled one row per window; the
  * fingerprint prefilter drops rows before its first exchange).
  *
  * Scale notes (100 TB): window rows are 4 longs (~28 B/position) --
  * comparable to the reference's 8N suffix-array footprint -- and flow
  * through a single hash-partitioned shuffle; at minLen <= 32 they also
  * carry the window bytes (no wider than a digest), and above it only
  * the (small) hash-run members are ever joined to the corpus, a join AQE
  * skew-join splits if one window is viral. Above minLen 32 the fingerprint exchange carries about
  * 2 / (w + 1) of the windows (~3% at minLen 500) and the window shuffle
  * only the marked docs' windows; a viral fingerprint collapses in the
  * partial count, and only the semi-join back to its holders grows with
  * it.
  *
  * Input contract: df(k: Long, text: String) where ascending `k` defines
  * the stable global first-occurrence order (the reference's
  * (shard, global_ptr) order, h:717-724).
  */
object SubstringDedup {

  /** `verifyPrune`: semi-join-prune the corpus side of the verifier's
    * one join down to the hash-run members' doc keys, and pin the members
    * (they feed both the key set and the join probe, so the window sort
    * runs once). Pays when one corpus scan is expensive relative to a
    * handful of extra scheduled jobs -- e.g. the JSONL workflow, whose
    * scan decompresses every shard (JsonlDedupJob passes true); costs
    * more than it saves on cheap vectorized parquet scans at fixture
    * scale. Measured round 6 (sf0.1 / 330 MB jsonl,
    * local[32]): prune ON made the parquet-backed a1 query 1.8 -> 2.5 s
    * (the extra pin/broadcast jobs dominate) while the gzip jsonl
    * workflow pass went 26.7 -> 23.0 s best-of-2 (one pruned corpus scan
    * instead of two full decompressions). Hence default off. It only
    * matters where the verifier joins: not at bytes minLen <= 32 (inline
    * bytes) and not at bytes above 32, whose fingerprint prefilter
    * already pins the marked docs that the window sort and the join read.
    */
  case class Config(minLen: Int, verifyPrune: Boolean = false)

  /** The unit windows are counted in. For the spine it decides the
    * per-doc sequence (`seq`, in original orientation), what windows are
    * hashed over (`stream`), the exact window key (`key`), whether
    * windows carry that key (`inlineKey`) and which docs can hold a run
    * (`runDocs`); for the writeback, the annotation and the cut.
    * `reversed` (token/id units): the reference's --reversed indexes the
    * mirrored stream (suffix-vs-prefix duplication); windows are
    * generated over the reversed sequence and `pos` reports the
    * REVERSED-stream offset, so first-occurrence keep order matches the
    * reference's reversed scan.
    */
  private[graft] sealed abstract class WindowUnit {
    def reversed: Boolean
    /** The doc as a sequence: binary (bytes) or an array (tokens, ids). */
    def seq: Column
    /** What windows are generated over: `seq` itself when the generator
      * reads it (bytes, ids), else its elements as digits.
      */
    def stream: Column = seq
    /** Exact key (binary) of the `len`-unit window at 0-based `pos` (a
      * column name) of the oriented sequence column named `s`: the digest
      * of its elements as strings joined by single spaces, as the DuckDB
      * oracle keys them. Injective: no token (split on ' ', empties
      * dropped) and no decimal id holds a space.
      */
    def key(s: String, pos: String, len: Int): Column =
      digest(encode(concat_ws(" ",
        transform(slice(col(s), col(pos) + 1, lit(len)), _.cast("string"))), "UTF-8"))
    /** Whether the generator's window at `minLen` carries its own exact
      * key (`x`), so the run scan needs no verifier join.
      */
    def inlineKey(minLen: Int): Boolean = false
    /** The docs (k, ...) that can hold a run of `minLen`-unit windows,
      * pinned, or None when every doc can.
      */
    def runDocs(docs: DataFrame, minLen: Int): Option[DataFrame] = None
    /** The doc field `seq` is read from, and remove mode rewrites. */
    def source: String
    /** The annotation column: the doc's ranges in original-orientation
      * unit offsets.
      */
    def annotation: String = "sa_remove_ranges_tokens"
    /** The annotation from the doc's sorted [s, e) array over the
      * oriented sequence: a reversed stream's [s, e) covers the original
      * units [n - e, n - s).
      */
    def annotate(ranges: Column): Column =
      if (!reversed) ranges
      else {
        val n = size(seq).cast("long")
        sort_array(transform(ranges, r => struct((n - r("e")).as("s"), (n - r("s")).as("e"))))
      }
    /** The units of `seq` outside every range of `ranges`. */
    protected def kept(ranges: Column): Column =
      filter(seq, (_, i) => !exists(ranges, r => i >= r("s") && i < r("e")))
    /** `source` with the annotated ranges cut out. */
    def cut(ranges: Column): Column
  }

  /** UTF-8 bytes of `text` (the reference default). The key is the
    * window's raw digest, a flat 32 B regardless of minLen; it is only
    * computed above `InlineMax` bytes, since at or below that the run scan
    * compares the raw window the generator carries.
    */
  private[graft] case object Bytes extends WindowUnit {
    private val InlineMax = 32
    val reversed = false
    val source = "text"
    def seq: Column = encode(col("text"), "UTF-8")
    override def key(s: String, pos: String, len: Int): Column =
      digest(expr(s"substring($s, $pos + 1, $len)"))
    /** INLINE (round 6): a window no wider than its digest rides the ONE
      * hash exchange -- zero corpus re-scans, zero joins. Inlining a
      * 500-byte window would multiply the exchange ~16x.
      */
    override def inlineKey(minLen: Int): Boolean = minLen <= InlineMax
    /** FINGERPRINT PREFILTER above 32 bytes: the docs holding a shared
      * run fingerprint (`runCandidateKeys`), pinned once.
      */
    override def runDocs(docs: DataFrame, minLen: Int): Option[DataFrame] =
      if (minLen <= InlineMax) None
      else Some(pruneToKeys(docs.select(col("k").cast("long").as("k"), col("text")),
        "k", runCandidateKeys(docs, minLen), pin = true))
    /** Byte offsets clipped inward to UTF-8 character boundaries. */
    override val annotation = "sa_remove_ranges"
    override def annotate(ranges: Column): Column = Utf8.clip(seq, ranges)
    def cut(ranges: Column): Column = Utf8.removeMode(seq, ranges)
  }

  /** Whitespace tokens of `text` (reference C2; split ' ' + drop empties).
    * Each token's digit is the built-in `xxhash64` of the token: a pure
    * function of the token, so no vocabulary table is built, broadcast or
    * synchronized. Equal digits only group windows; the exact key, the
    * verifier and `cut` read the token strings.
    */
  private[graft] case class Tokens(reversed: Boolean) extends WindowUnit {
    val source = "text"
    def seq: Column = filter(split(col("text"), " "), t => t =!= "")
    override def stream: Column = transform(seq, t => xxhash64(t))
    /** The surviving tokens re-joined with single spaces. */
    def cut(ranges: Column): Column = concat_ws(" ", kept(ranges))
  }

  /** A PRE-TOKENIZED `tokens: array<int|long>` field -- the reference's
    * production mode (indexing_v6_sharded.py:205-218 tokenizes up front,
    * the engine consumes u16/u32 id streams): the vocabulary lives with
    * the caller and the ids are the window digits directly.
    */
  private[graft] case class Ids(reversed: Boolean) extends WindowUnit {
    val source = "tokens"
    def seq: Column = col("tokens").cast("array<long>")
    def cut(ranges: Column): Column = kept(ranges)
  }

  /** The 32 raw bytes of a window's sha2-256 digest. */
  private def digest(b: Column): Column = unhex(sha2(b, 256))

  /** One row per in-doc window position: (h1, h2, k, pos).
    * pos is a 0-based byte offset; docs shorter than minLen emit nothing
    * (reference bounds predicate h:232-233).
    */
  def windows(docs: DataFrame, minLen: Int): DataFrame =
    unitWindows(docs, Bytes, minLen)

  /** The one window-generation call site: (h1, h2, k, pos[, x]) per in-doc
    * window of `unit`, generated over `unit.stream`. Native Generator
    * (functions/Native.scala GraftWindowGen): zero per-position
    * allocation and no typed serialization boundary -- null text (e.g. an
    * image row with no caption) = no windows, same as a doc shorter than
    * minLen (Generate outer=false drops the row). `withBytes` (byte unit
    * only) also emits each window's raw bytes as `x`.
    */
  private def unitWindows(docs: DataFrame, unit: WindowUnit, minLen: Int,
                          withBytes: Boolean = false): DataFrame = {
    val gen = Seq("h1", "h2", "pos") ++ (if (withBytes) Seq("x") else Nil)
    docs
      .select(col("k").cast("long").as("k"), unit.stream.as("b"))
      .select(col("k"),
        GraftFunctions.windowGen(col("b"), minLen, unit.reversed, withBytes).as(gen))
      .select((Seq("h1", "h2", "k") ++ gen.drop(2)).map(col): _*)
  }

  /** Co-locate equal (h1, h2) windows and sort them by (h1, h2[, x], k,
    * pos): the input contract of the run scan. HASH repartition, not
    * range: equal keys co-locate either way (all we need -- the
    * reference's run-aligned boundary rule, h:324-338), but
    * RangePartitioner runs a separate sampling job over the input, i.e. a
    * second full window-generation pass. Hash keys are uniform by
    * construction, so hash partitioning is also perfectly balanced.
    */
  private def sortedByKey(win: DataFrame): DataFrame =
    win.repartition(col("h1"), col("h2"))
      .sortWithinPartitions(
        (Seq("h1", "h2") ++ win.columns.filter(_ == "x") ++ Seq("k", "pos")).map(col): _*)

  /** The one run scan: rows arrive sorted by (h1, h2, x, k, pos) (a frame
    * without `x` has x = null, and null equals null), so equal
    * (h1, h2, x) rows are adjacent and a run's first row is its
    * (k, pos) minimum -- the reference's min_element-of-run keep rule
    * (h:239-246). Emits (h1, h2, k, pos, dropped) for every member of a
    * run of >= 2 rows, dropped = false on the first. Lookahead form: a
    * row survives iff it CONTINUES its predecessor or its SUCCESSOR
    * continues it; singleton runs -- the vast majority -- are skipped.
    */
  private def runMembers(win: DataFrame): DataFrame = {
    // MEASURED (round 6, sf0.1, min-of-2): a WindowExec variant
    // (first_value over partitionBy(h1,h2), which reuses this exact sort
    // and avoids the typed boundary) was SLOWER -- a1 1.68 -> 2.63 s,
    // five-query family total 5.35 -> 6.95 s -- because per-group window
    // machinery over ~1e8 mostly-singleton groups costs more than the
    // tuple deserialization it removes. The typed adjacent scan stays.
    val spark = win.sparkSession
    import spark.implicits._
    type Row = (Long, Long, Array[Byte], Long, Long)
    def same(a: Row, b: Row): Boolean =
      a._1 == b._1 && a._2 == b._2 && java.util.Arrays.equals(a._3, b._3)
    val x = if (win.columns.contains("x")) col("x") else lit(null).cast("binary")
    sortedByKey(win)
      .select(col("h1"), col("h2"), x, col("k"), col("pos"))
      .as[(Long, Long, Array[Byte], Long, Long)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Long, Long, Boolean)] {
          private var prev: Row = null
          private var nxt = advance()
          @annotation.tailrec private def advance(): (Long, Long, Long, Long, Boolean) =
            if (!buf.hasNext) null
            else {
              val r = buf.next()
              val cont = prev != null && same(prev, r)
              prev = r
              if (cont || (buf.hasNext && same(buf.head, r))) (r._1, r._2, r._4, r._5, cont)
              else advance()
            }
          def hasNext: Boolean = nxt != null
          def next(): (Long, Long, Long, Long, Boolean) = { val r = nxt; nxt = advance(); r }
        }
      }
      .toDF("h1", "h2", "k", "pos", "dropped")
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

  /** Doc keys ("ck") of the docs that may hold a removable minLen-byte
    * window: every doc holding a run fingerprint (NativeKernels
    * .runFingerprints) that occurs twice overall -- in two docs, or twice
    * in one. Every member of a duplicate group holds such a fingerprint,
    * so the duplicate groups among these docs are exactly those of the
    * whole corpus. Skew-safe: the (k, fp) rows are pinned, counted per
    * fingerprint with a partial aggregate (a viral fingerprint collapses
    * map-side) and semi-joined back; no per-fingerprint doc list is ever
    * built. Keys may repeat.
    */
  private[graft] def runCandidateKeys(docs: DataFrame, minLen: Int): DataFrame = {
    val fps = docs
      .select(col("k").cast("long").as("k"),
        explode(GraftFunctions.runFingerprints(Bytes.seq, minLen)).as("fp"))
      .localCheckpoint(true)
    val shared = fps.groupBy("fp").count().where(col("count") >= 2).select("fp")
    fps.join(shared, Seq("fp"), "leftsemi").select(col("k").as("ck"))
  }

  /** The spine: (k, pos, dropped) for every member of an exact duplicate
    * group of `unit` windows, dropped = false on the group's first
    * occurrence. `rekey` rewrites the window frame before the run scan
    * (the forced-collision tests overwrite h1/h2 with constants).
    */
  private[graft] def members(docs: DataFrame, unit: WindowUnit, cfg: Config,
                             rekey: DataFrame => DataFrame = identity): DataFrame = {
    // a unit that marks the docs that can hold a run pins them once: the
    // window sort and the verifier join read that pin, so it needs no prune
    val marked = unit.runDocs(docs, cfg.minLen)
    val src = marked.getOrElse(docs)
    val inline = unit.inlineKey(cfg.minLen)
    val hashRuns = runMembers(rekey(unitWindows(src, unit, cfg.minLen, withBytes = inline)))
    if (inline) hashRuns.select("k", "pos", "dropped")
    else {
      // JOIN verification: the hash-run members (a small fraction of the
      // windows) are joined to the corpus once, keyed exactly IN the join
      // projection, and scanned again -- no raw window crosses an exchange
      // (carrying raw 500-byte windows between joins measured 61 s of a
      // 110 s job, round 2). With the prune, the members are pinned: they
      // feed the doc-key prune AND the join probe, and recomputing them
      // would re-run the full window sort per consumer
      val prune = cfg.verifyPrune && marked.isEmpty
      val probe = if (prune) hashRuns.localCheckpoint(true) else hashRuns
      val vb = if (!prune) corpus(src, unit)
        else pruneToKeys(corpus(src, unit), "vk", probe.select(col("k").as("ck")), pin = false)
      runMembers(probe.join(vb, col("k") === col("vk"))
        .select(col("h1"), col("h2"), col("k"), col("pos"),
          unit.key("vb", "pos", cfg.minLen).as("x")))
        .select("k", "pos", "dropped")
    }
  }

  /** Remove ranges (k, s, e) of `unit` windows, in unit offsets over the
    * (optionally reversed) sequence; `cfg.minLen` counts units: the
    * dropped members, coalesced.
    */
  private[graft] def removeRanges(docs: DataFrame, unit: WindowUnit, cfg: Config,
                                  rekey: DataFrame => DataFrame = identity): DataFrame =
    coalesceRanges(members(docs, unit, cfg, rekey).where(col("dropped")), cfg.minLen)

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
    * byte-unit spine's dropped members, coalesced. Token and id ranges
    * name their unit: `removeRanges(docs, Tokens(rev) | Ids(rev), cfg)`.
    */
  def removeRanges(docs: DataFrame, cfg: Config): DataFrame =
    removeRanges(docs, Bytes, cfg)

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
  def annotateWith(docs: DataFrame, rangesTable: DataFrame): DataFrame =
    annotateWith(docs, Bytes, rangesTable)

  /** The one place ranges meet documents (write_back_to_jsonl_sharded.py
    * :75-101 --mode annotate): the `unit` ranges table (k, s, e) becomes
    * each doc's sorted array<struct<s, e>>, empty for docs without
    * duplicates, and `unit.annotate` turns it into the `unit.annotation`
    * column.
    */
  private[graft] def annotateWith(docs: DataFrame, unit: WindowUnit,
                                  rangesTable: DataFrame): DataFrame = {
    val ranges = rangesTable
      .groupBy("k")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("raw"))
    docs
      .withColumn("k", col("k").cast("long"))
      .join(ranges, Seq("k"), "left")
      .withColumn("raw",
        coalesce(col("raw"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn(unit.annotation, unit.annotate(col("raw")))
      .drop("raw")
  }

  /** Remove mode (write_back_to_jsonl_sharded.py:89-94): an annotated
    * frame's `unit.source` rewritten without its ranges; the annotation
    * is dropped.
    */
  private[graft] def cut(annotated: DataFrame, unit: WindowUnit): DataFrame =
    annotated.withColumn(unit.source, unit.cut(col(unit.annotation))).drop(unit.annotation)

  /** A9: index-order verification (reference verify_sa_correctness,
    * h:914-930, driven by verify_sa.py). The reference checks that
    * adjacent suffix-array ranks are non-decreasing under depth-`hack`
    * compare; our index is the spine's sorted window frame, and the two
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
    * form (one row per span).
    */
  def dupDocSlices(docs: DataFrame, cfg: Config): DataFrame =
    dupPtrs(docs, cfg)
      .join(corpus(docs, Bytes), col("k") === col("vk"))
      .select(col("k"), col("pos"), col("dropped"),
        decode(expr(s"substring(vb, pos + 1, ${cfg.minLen})"), "UTF-8").as("snippet"))

  /** Diagnostics (reference find_dup_ptrs, h:801-837): every member of a
    * duplicate group with dropped flag; the kept (first) one has
    * dropped=false. The spine itself (`members`), so it is exact under
    * hash collisions, and `removeRanges` is exactly its dropped rows,
    * coalesced.
    */
  def dupPtrs(docs: DataFrame, cfg: Config): DataFrame =
    members(docs, Bytes, cfg)
}
