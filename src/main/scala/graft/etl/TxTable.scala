package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Minimal transactional table format over parquet — the Delta-class
  * layer the "Spark SQL + DataFrame ops over Delta/Parquet lakehouse"
  * north star asks for (round-13 verdict stretch item 7), built from
  * the same published recipe Delta Lake documents (Armbrust et al.,
  * "Delta Lake: High-Performance ACID Table Storage over Cloud Object
  * Stores", VLDB 2020): an ordered commit log of file manifests +
  * optimistic concurrency on log-entry creation + snapshot reads.
  *
  * Layout under the table root:
  * {{{
  *   data/v<version>-<uuid>/   parquet dirs, immutable once committed
  *   _txlog/v<version>.json    manifest: {version, action, dirs:[...], parts:[...]}
  *   _txlog/index/v<N>.<kind>  advisory index trained on version N ([[indexAt]])
  * }}}
  *
  * Commit protocol (per version N):
  *  1. write the commit's data dirs under `data/` — invisible to
  *     readers until a manifest references them (crash here leaves an
  *     orphan dir, never a torn table);
  *  2. publish-and-claim in ONE atomic step: the full manifest body is
  *     written to a private temp file, then HARD-LINKED onto
  *     `v<N>.json` — POSIX link(2) fails with EEXIST if the name
  *     exists, so exactly one writer per version wins AND the winning
  *     manifest is complete the instant it is visible (no separate
  *     claim token, hence no window where a version is claimed but
  *     unreadable — a two-step claim/publish protocol has a lost-update
  *     race exactly there). The loser re-reads the winner's snapshot,
  *     REBASES its transformation on it, and retries at N+1 — the
  *     optimistic loop that makes two concurrent upserts serialize
  *     instead of losing one (TxTableSpec). A crash between temp-write
  *     and link leaves only an ignored `.tmp-*` file.
  *
  * Every retrying writer runs that loop as ONE private `commitLoop`
  * and only supplies an attempt: a function from the base snapshot to
  * either a no-op at a version (a replayed txn batch, a restore to the
  * current version, an evolve to the same schema) or a proposal — the
  * new manifest (whose metadata defaults to the base's: stats and bloom
  * columns, schema, layout, txn ledger), the fresh dirs the attempt
  * wrote with the stats their writes observed, and any other stats it
  * has. The loop owns the rest: reading the base, the
  * whole-table-on-scoped-layout refusal, appId validation and the
  * replay check, the txn tag, the fresh dirs' Bloom filters, the race
  * for base+1, and on a loss dropping the fresh dirs (or, for a merge
  * whose winner kept every dir it replaced and added none its keys may
  * hit, re-basing them onto the winner) before the retry. Only the
  * fixed-target commits ([[create]], [[migrate]], [[cloneTable]])
  * commit outside it.
  *
  * Reads: [[read]] resolves the manifest at `version` (default:
  * latest) and scans exactly its listed dirs — old versions stay
  * readable forever (time travel) because data dirs are immutable and
  * never deleted by commits ([[vacuum]] is the explicit, destructive
  * retention step, exactly Delta's split of responsibilities).
  *
  * Partition-scoped commits (round-15, verdict task 7): a manifest
  * entry is a (dir, part) pair — `part` is the string form of the
  * entry's partition value, "" for a whole-table entry.
  * [[mergeUpsertPartitioned]] rewrites ONLY the partitions the incoming
  * batch touches and carries every untouched partition's entries
  * forward by reference: an incremental load against a 100 TB table
  * costs the touched partitions' rewrite, not the table's.
  *
  * Scale notes: the log holds one tiny JSON per commit (listing dirs,
  * not files — the dir is the atomic unit Spark writes). Every
  * manifest is a FULL snapshot, so version resolution reads exactly
  * one manifest — the content Delta materializes only at checkpoint
  * versions is materialized here at every version (the log stays tiny
  * because entries are dirs, not files). The remaining O(versions)
  * cost was log DISCOVERY: `latestVersion` listing the whole `_txlog`
  * directory — ruinous once a standing CDC pipeline has committed one
  * version per micro-batch for a month. Round 16 (verdict task 4)
  * bounds it with `_txlog/_latest.hint`, the `_last_checkpoint`
  * analogue: an advisory monotonic pointer rewritten (atomic rename)
  * after every win; resolution reads the hint and probes FORWARD over
  * the dense version sequence until the first gap — O(1 + commits
  * since the hint was written), never a full listing, with the listing
  * fallback kept for hintless legacy logs (and re-seeding the hint).
  * A stale hint is always BEHIND (it is written only after its
  * manifest is linked), so probing forward cannot miss the latest.
  * The O_EXCL claim assumes a filesystem with atomic create (POSIX,
  * HDFS); S3-class stores need a CAS/coordination service here, the
  * same caveat Delta documents for its log.
  *
  * Data skipping (round 16, Armbrust et al. §data-skipping): commits
  * may record per-dir min/max column stats in an ADVISORY
  * `v<N>.stats.json` sidecar (written after the manifest wins; carried
  * forward for dirs a later commit keeps, since dirs are immutable).
  * [[compact]] with `clusterBy` range-clusters each partition group
  * into per-bucket dirs with exact stats, and a filtered
  * `spark.read.format("graft")` read prunes non-overlapping dirs at the
  * manifest level before Spark ever lists a file — the
  * [[pruneSnapshot]] decision never drops a dir without a stat on the
  * queried column, so skipping is always sound. Round 17 extends the
  * family: STRING columns record truncated code-point-order min/max
  * ([[DirStrStat]]), and [[setBloomColumns]] adds per-dir Bloom filters
  * for hash-like keys where every dir's range spans the whole key
  * space — equality/IN predicates in a connector read's WHERE clause
  * prune on "no candidate might be contained", sound because Bloom
  * filters have no false negatives.
  *
  * The reference's `drop_old=True` full refresh (seed_milvus.py:75) is
  * the special case [[refresh]]: a commit whose manifest lists only
  * the new data — with history retained instead of destroyed.
  */
object TxTable {

  /** `parts(i)` is the partition value of `dirs(i)` ("" = whole-table
    * entry); pre-partitioning manifests parse with all-"" parts.
    *
    * Round-17 table contract fields (all optional — pre-contract
    * manifests parse with the empty defaults and stay unconstrained):
    *  - `statsCols`: the declared data-skipping column set
    *    ([[setStatsColumns]]); every commit's writes observe fresh-dir
    *    min/max for these, so pruning works BETWEEN compactions too, and
    *    a keyed MERGE on a statted key rewrites only the dirs its key
    *    range may hit.
    *  - `schemaDdl`: the table's schema fingerprint (nullable-normalized
    *    `StructType.toDDL`); commits with a different schema are
    *    rejected unless `evolve = true` — Delta's enforcement/evolution
    *    split (Armbrust et al. §3.3).
    *  - `layout`: an opaque partition-scoping descriptor recorded at
    *    layout creation (e.g. a CDC state's hash-bucket count) and
    *    validated on every scoped merge, so a writer built with a
    *    different bucketing constant fails fast instead of mis-scoping
    *    keys into fresh buckets.
    *  - `bloomCols`: the declared point-lookup column set
    *    ([[setBloomColumns]]); every commit builds a per-dir Bloom
    *    filter for these, so equality/IN predicates prune dirs that
    *    range stats cannot (high-cardinality hash-like keys).
    *  - `txnApps`/`txnIds` (aligned lists): per-writer idempotence
    *    records — the highest batch id each named writer has
    *    committed (Delta's `txn` action). They ride the MANIFEST
    *    because the manifest link is the atomic point: a sidecar
    *    updated after the win would leave a crash window in which a
    *    replayed streaming batch double-commits. Every commit path
    *    carries them forward. */
  final case class Snapshot(version: Long, action: String, dirs: Seq[String],
                            parts: Seq[String] = Nil,
                            statsCols: Seq[String] = Nil,
                            schemaDdl: String = "",
                            layout: String = "",
                            bloomCols: Seq[String] = Nil,
                            txnApps: Seq[String] = Nil,
                            txnIds: Seq[Long] = Nil) {
    def entries: Seq[(String, String)] =
      dirs.zip(if (parts.length == dirs.length) parts else Seq.fill(dirs.length)(""))
    /** The per-writer idempotence map (empty for pre-txn manifests).
      * A LENGTH MISMATCH is manifest corruption and throws: degrading
      * to an empty map would un-record every writer's high-water mark
      * and turn the next replayed batch into a silent double-commit —
      * the one failure mode the ledger exists to prevent. */
    def txns: Map[String, Long] = {
      if (txnApps.length != txnIds.length) throw new IllegalStateException(
        s"corrupt txn ledger at version $version: ${txnApps.length} apps " +
          s"vs ${txnIds.length} ids — refusing to treat replays as new batches")
      txnApps.zip(txnIds).toMap
    }
  }

  private def logDir(root: String): Path = Paths.get(root, "_txlog")
  private def manifest(root: String, v: Long): Path =
    logDir(root).resolve(f"v$v%08d.json")
  private val ManifestName = """v(\d{8})\.json""".r
  private def hintFile(root: String): Path = logDir(root).resolve("_latest.hint")

  // --- observability counters (test-visible; the checkpointing spec
  // asserts resolution cost on a 1000-commit log through these) ---
  /** Full `_txlog` directory listings (the O(versions) fallback). */
  private[graft] val fullListings = new java.util.concurrent.atomic.AtomicLong
  /** Manifest-existence probes during hinted forward scans. */
  private[graft] val manifestProbes = new java.util.concurrent.atomic.AtomicLong
  /** Manifest bodies read (snapshot resolutions). */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong
  /** Merges committed via conflict fast-forward (a winner that kept
    * every dir the merge replaces and added none its keys may hit,
    * adopted without recompute). */
  private[graft] val fastForwardCommits = new java.util.concurrent.atomic.AtomicLong
  /** Merges that lost a race and had to recompute: the winner replaced a
    * dir the merge replaces, or added one its keys may hit — without key
    * stats, any change to a touched scope (the slow rebase path). */
  private[graft] val rebaseRecomputes = new java.util.concurrent.atomic.AtomicLong
  /** Snapshot/stats resolutions served from the immutable-manifest
    * cache (no file read, no parse). */
  private[graft] val cacheHits = new java.util.concurrent.atomic.AtomicLong
  private[graft] def resetCounters(): Unit = Seq(fullListings, manifestProbes,
    manifestReads, fastForwardCommits, rebaseRecomputes, cacheHits).foreach(_.set(0))

  // --- immutable-manifest caches (round 18:
  // scale_artifacts/probe_txmanifest_r18.jsonl measured snapshot
  // resolution at 0.89 s per call on a 100k-dir table — the regex
  // parse, paid on EVERY read and every optimistic-loop iteration). A committed manifest (and its stats
  // sidecar) is IMMUTABLE: the O_EXCL link can never replace an
  // existing version file, so a parsed result is valid for the file's
  // lifetime. Cache entries are validated by (size, mtime) so the one
  // deviant path — an externally deleted-and-recreated table at the
  // same root — falls back to a fresh parse. Budget-bounded LRU (by
  // total dir entries, the actual memory driver), shared across all
  // tables in the process. ---
  private final case class CachedSnap(snap: Snapshot, bytes: Long, mtime: Long)
  private final case class CachedStats(stats: Seq[DirStat], strStats: Seq[DirStrStat],
                                       bytes: Long, mtime: Long)
  private val SnapCacheBudget = 2000000L // total cached dir entries
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long), CachedSnap](64, 0.75f, true)
  private var snapCacheWeight = 0L // guarded by snapCache's monitor
  private val statsCache =
    new java.util.LinkedHashMap[(String, Long), CachedStats](64, 0.75f, true)
  private var statsCacheWeight = 0L // guarded by statsCache's monitor

  private def snapCacheGet(key: (String, Long), bytes: Long, mtime: Long): Option[Snapshot] =
    snapCache.synchronized {
      Option(snapCache.get(key)).filter(c => c.bytes == bytes && c.mtime == mtime)
        .map { c => cacheHits.incrementAndGet(); c.snap }
    }

  private def snapCachePut(key: (String, Long), c: CachedSnap): Unit =
    snapCache.synchronized {
      val prev = snapCache.put(key, c)
      snapCacheWeight += (c.snap.dirs.length + 1) -
        Option(prev).map(_.snap.dirs.length + 1).getOrElse(0)
      val it = snapCache.entrySet().iterator()
      while (snapCacheWeight > SnapCacheBudget && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { snapCacheWeight -= e.getValue.snap.dirs.length + 1; it.remove() }
      }
    }

  private def statsCacheGet(key: (String, Long), bytes: Long, mtime: Long): Option[CachedStats] =
    statsCache.synchronized {
      Option(statsCache.get(key)).filter(c => c.bytes == bytes && c.mtime == mtime)
        .map { c => cacheHits.incrementAndGet(); c }
    }

  /** Recursive local-filesystem delete (child-first). The ONE copy of
    * this logic: DROP TABLE/NAMESPACE and the stage sweeps all route
    * here (r19 reviewer — four inline twins). Table roots contain only
    * files and hard links the format itself wrote, so no symlink
    * traversal concern arises on the paths this serves. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively)); f.delete(); ()
  }

  /** Test seam: drop both caches so a resolve pays the cold
    * read+parse path. */
  private[graft] def clearResolutionCaches(): Unit = {
    snapCache.synchronized { snapCache.clear(); snapCacheWeight = 0L }
    statsCache.synchronized { statsCache.clear(); statsCacheWeight = 0L }
  }

  private def statsCachePut(key: (String, Long), c: CachedStats): Unit =
    statsCache.synchronized {
      val prev = statsCache.put(key, c)
      def w(x: CachedStats) = x.stats.length + x.strStats.length + 1
      statsCacheWeight += w(c) - Option(prev).map(w).getOrElse(0)
      val it = statsCache.entrySet().iterator()
      while (statsCacheWeight > SnapCacheBudget && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { statsCacheWeight -= w(e.getValue); it.remove() }
      }
    }
  /** Test seam: runs between a writer finishing its data dirs and its
    * commit attempt — the only way to deterministically interleave a
    * concurrent commit inside that window from a spec. No-op in
    * production. */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** Per-data-dir column statistic (round 16 — the Delta paper's
    * data-skipping recipe, §4.3 of Armbrust et al.: min/max per file
    * kept in the log, scans prune objects whose range cannot match).
    * The unit here is the DIR (the manifest's atomic entry); values are
    * doubles (exact for integral values up to 2^53 — stats are recorded
    * for numeric columns only). Stats are ADVISORY: they live in a
    * `vNNNNNNNN.stats.json` sidecar written after the manifest wins, a
    * missing/crashed sidecar just means no pruning for that version,
    * and a dir without a stat is always scanned. */
  final case class DirStat(dir: String, col: String, min: Double, max: Double)

  /** Per-dir STRING column statistic (round 17 — the same Delta-paper
    * recipe for string-typed columns: language codes, URL prefixes,
    * ISO-date strings). `min`/`max` are CLOSED bounds in code-point
    * order — the order Spark's own min()/max() aggregates use for
    * strings (UTF8String compares bytes unsigned = code points), and
    * the order [[strCompare]] reproduces for the prune test; values
    * longer than [[StrStatMaxLen]] are truncated Delta-style (min:
    * plain prefix, a sound lower bound; max: prefix with its last code
    * point incremented, a sound strict upper bound — if no code point
    * can be incremented the stat is omitted). The all-NULL / empty-dir
    * sentinel is (min = "￿", max = "") — min > max, so every
    * range prunes the dir, mirroring the numeric (+Inf, -Inf)
    * sentinel. */
  final case class DirStrStat(dir: String, col: String, min: String, max: String)

  /** Truncation cap for recorded string stats (Delta uses 32; 64 keeps
    * typical URL/path prefixes discriminating). */
  val StrStatMaxLen = 64

  /** Code-point (= UTF-8 binary = Spark UTF8String) string order. Java's
    * String.compareTo is UTF-16 code-UNIT order, which ranks
    * supplementary characters (surrogate pairs) BELOW U+E000..U+FFFF
    * — the opposite of the
    * order Spark's min/max used to record the stats, so using it for
    * the prune test would be UNSOUND on non-BMP text. */
  private[graft] def strCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Truncate to ≤ `maxChars` UTF-16 chars WITHOUT splitting a
    * surrogate pair: a cut straddling a pair leaves a lone high
    * surrogate (~0xD800) in the prefix, which sorts BELOW the
    * supplementary code point (≥ 0x10000) it was part of — an
    * incremented max built on that prefix would under-bound the dir's
    * values and let pruning drop live rows (r17 reviewer). */
  private def cpPrefix(s: String, maxChars: Int): String =
    if (s.length <= maxChars) s
    else if (Character.isHighSurrogate(s.charAt(maxChars - 1)) &&
             Character.isLowSurrogate(s.charAt(maxChars)))
      s.substring(0, maxChars - 1)
    else s.substring(0, maxChars)

  /** Sound truncated lower bound: a code-point prefix is ≤ the full
    * string in code-point order. */
  private[graft] def truncMin(s: String): String = cpPrefix(s, StrStatMaxLen)

  /** Strict upper bound for the set of strings with prefix `p`:
    * increment p's rightmost incrementable code point (skipping the
    * surrogate gap) and drop what follows. None when every code point
    * is U+10FFFF (or p is empty) — no finite bound exists. */
  private[graft] def strIncrement(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        val next = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
        val sb = new java.lang.StringBuilder
        (0 until i).foreach(k => sb.appendCodePoint(cps(k)))
        sb.appendCodePoint(next)
        return Some(sb.toString)
      }
      i -= 1
    }
    None
  }

  /** [[strCompare]] as an Ordering (for min/max over candidate sets). */
  private[graft] val strOrdering: Ordering[String] =
    (a: String, b: String) => strCompare(a, b)

  /** Sound truncated upper bound: values ≤ [[StrStatMaxLen]] stay
    * exact; longer ones record the incremented prefix ([[strIncrement]]
    * — > every string sharing it), or no stat at all when nothing is
    * incrementable. */
  private[graft] def truncMax(s: String): Option[String] =
    if (s.length <= StrStatMaxLen) Some(s)
    else strIncrement(cpPrefix(s, StrStatMaxLen))

  private def statsFile(root: String, v: Long): Path =
    logDir(root).resolve(f"v$v%08d.stats.json")

  private def qs(x: String): String = "\"" + x.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
  } + "\""

  private def renderStats(v: Long, stats: Seq[DirStat],
                          strStats: Seq[DirStrStat] = Nil): String = {
    val items = stats.map(s =>
      s"""{"dir":"${s.dir}","col":"${s.col}","min":${s.min},"max":${s.max}}""") ++
      strStats.map(s =>
        s"""{"dir":${qs(s.dir)},"col":${qs(s.col)},"smin":${qs(s.min)},"smax":${qs(s.max)}}""")
    s"""{"version":$v,"stats":[${items.mkString(",")}]}"""
  }

  private val StatItem =
    """\{"dir":"([^"]*)","col":"([^"]*)","min":([-0-9.eE+]+|NaN|Infinity|-Infinity),"max":([-0-9.eE+]+|NaN|Infinity|-Infinity)\}""".r
  private val StrStatItem =
    ("""\{"dir":"((?:[^"\\]|\\.)*)","col":"((?:[^"\\]|\\.)*)",""" +
      """"smin":"((?:[^"\\]|\\.)*)","smax":"((?:[^"\\]|\\.)*)"\}""").r
  private def unq(x: String): String =
    x.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Scan a double-quoted JSON string whose opening quote is at `i0`;
    * returns (unescaped value, index just past the closing quote).
    * Unescapes exactly the two sequences [[qs]] emits (\" and \\) —
    * any other backslash keeps its following char, matching [[unq]]. */
  private def scanQuoted(s: String, i0: Int): (String, Int) = {
    var i = i0 + 1
    val sb = new java.lang.StringBuilder
    while (i < s.length && s.charAt(i) != '"') {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) { sb.append(s.charAt(i + 1)); i += 2 }
      else { sb.append(c); i += 1 }
    }
    (sb.toString, i + 1)
  }

  /** Sidecar read + parse, cached like manifests (the sidecar is
    * written before the atomic link and never rewritten). One file
    * read serves BOTH stat families — the previous regex pair parsed
    * the file twice per prune. */
  private def statsAt(root: String, version: Long): CachedStats = {
    val p = statsFile(root, version)
    if (!Files.exists(p)) return CachedStats(Nil, Nil, -1L, -1L)
    val (bytes, mtime) =
      (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    val key = (root, version)
    statsCacheGet(key, bytes, mtime).getOrElse {
      val c = try {
        val (s, ss) = parseStatsFast(Files.readString(p))
        CachedStats(s, ss, bytes, mtime)
      } catch { case _: Exception => CachedStats(Nil, Nil, bytes, mtime) }
      statsCachePut(key, c)
      c
    }
  }

  /** Stats recorded at `version` (empty when the sidecar is absent —
    * older versions, crashed writers, raw tryCommit users). */
  def readStats(root: String, version: Long): Seq[DirStat] =
    statsAt(root, version).stats

  /** String-column stats recorded at `version` (same sidecar, distinct
    * record shape). */
  def readStrStats(root: String, version: Long): Seq[DirStrStat] =
    statsAt(root, version).strStats

  /** Regex reference parsers for the sidecar — the historical
    * implementation, kept as the equality oracle for
    * [[parseStatsFast]] (TxTableSpec random round-trips). */
  private[graft] def readStatsRegex(body: String): (Seq[DirStat], Seq[DirStrStat]) = (
    StatItem.findAllMatchIn(body)
      .map(m => DirStat(m.group(1), m.group(2), m.group(3).toDouble, m.group(4).toDouble))
      .toSeq,
    StrStatItem.findAllMatchIn(body)
      .map(m => DirStrStat(unq(m.group(1)), unq(m.group(2)),
        unq(m.group(3)), unq(m.group(4))))
      .toSeq)

  /** Linear scan of the stats sidecar — same results as the regex pair
    * ([[readStatsRegex]], spec-pinned equal), ~20× cheaper on a
    * 100k-entry sidecar (SCALE.md "Round 18: manifest-resolution knee
    * measured, then removed"; the regex engine re-scans per item). Numeric items were rendered WITHOUT escaping
    * (dir/col are machine-safe there, bug-compatible with StatItem);
    * string items use the shared qs escaping. */
  private[graft] def parseStatsFast(body: String): (Seq[DirStat], Seq[DirStrStat]) = {
    val stats = Seq.newBuilder[DirStat]
    val strStats = Seq.newBuilder[DirStrStat]
    var i = body.indexOf("""{"dir":""")
    while (i >= 0) {
      val parsed: Option[Int] =
        try {
          var j = i + 7 // past {"dir":
          if (j < body.length && body.charAt(j) == '"') {
            val (dir, j1) = scanQuoted(body, j)
            if (body.startsWith(""","col":""", j1)) {
              val (colV, j2) = scanQuoted(body, j1 + 7)
              if (body.startsWith(""","min":""", j2)) {
                val mEnd = body.indexOf(',', j2 + 7)
                val mn = body.substring(j2 + 7, mEnd).toDouble
                val xStart = mEnd + 7 // past ,"max":
                val xEnd = body.indexOf('}', xStart)
                val mx = body.substring(xStart, xEnd).toDouble
                // bug-compat with StatItem: numeric rows were rendered
                // unescaped, so a dir/col containing '"' never matched
                // the regex either — skip rows the regex would skip
                if (!dir.contains('"') && !colV.contains('"') &&
                    !dir.contains('\\') && !colV.contains('\\'))
                  stats += DirStat(dir, colV, mn, mx)
                Some(xEnd + 1)
              } else if (body.startsWith(""","smin":""", j2)) {
                val (smin, j3) = scanQuoted(body, j2 + 8)
                if (body.startsWith(""","smax":""", j3)) {
                  val (smax, j4) = scanQuoted(body, j3 + 8)
                  strStats += DirStrStat(dir, colV, smin, smax)
                  Some(j4 + 1)
                } else None
              } else None
            } else None
          } else None
        } catch { case _: Exception => None }
      val next = parsed.getOrElse(i + 7)
      i = body.indexOf("""{"dir":""", next)
    }
    (stats.result(), strStats.result())
  }

  // --- per-dir Bloom filters (round 17): point-lookup data skipping
  // for high-cardinality hash-like keys, the Delta bloom-filter-index
  // recipe. Range stats cannot prune `content_sha = '…'` on a column
  // whose values are uniformly distributed — every dir's [min, max]
  // spans the whole key space. A per-dir Bloom filter CAN: no false
  // negatives, so "no declared value might be contained" is a sound
  // drop. Filters are keyed by (dir, col) — dirs are immutable, so a
  // filter is exact forever, carried across versions for free (no
  // per-version copy), and removed with its dir. Advisory like the
  // stats sidecar: a missing/corrupt filter file just means no pruning
  // for that (dir, col). ---

  /** False-positive probability for per-dir Bloom filters (~7.3
    * bits/row — a 1M-row dir costs ~0.9 MB). A false positive only
    * costs a wasted dir scan, never a wrong result. */
  val DefaultBloomFpp = 0.03

  private def bloomDirPath(root: String): Path = logDir(root).resolve("bloom")
  private def sanitize(s: String): String =
    s.map(c => if (c.isLetterOrDigit || c == '.' || c == '_' || c == '-') c else '_')
  private def bloomFile(root: String, rel: String, col: String): Path =
    bloomDirPath(root).resolve(s"${sanitize(rel)}.${sanitize(col)}.bf")

  /** Build + atomically publish Bloom filters for `cols` over each of
    * `rels` (absent columns skipped). One metadata count + one
    * single-column pass per (dir, col); best-effort, failures leave the
    * (dir, col) unprunable. */
  private def buildBlooms(spark: SparkSession, root: String,
                          rels: Seq[String], cols: Seq[String]): Unit =
    if (cols.nonEmpty) rels.foreach { rel =>
      try {
        val df = spark.read.parquet(s"$root/$rel")
        val present = cols.filter(df.columns.contains)
        if (present.nonEmpty) {
          val n = df.count() // parquet metadata count
          present.foreach { c =>
            // per-column best-effort: an unsupported column type (only
            // integrals/strings hash) must not abort the others
            try {
              // an EMPTY dir publishes an explicitly-empty filter (the
              // aggregate NPEs on zero rows): it contains nothing, so
              // every point lookup prunes the dir — sound, and the
              // bloom twin of the empty-range sentinel stat (an ingest
              // pipeline's empty batches must not stay lookup-unprunable
              // forever)
              val bf =
                if (n == 0L)
                  org.apache.spark.util.sketch.BloomFilter.create(1L, DefaultBloomFpp)
                else df.stat.bloomFilter(c, n, DefaultBloomFpp)
              Files.createDirectories(bloomDirPath(root))
              val tmp = bloomDirPath(root).resolve(s".bf-tmp-${UUID.randomUUID()}")
              val os = Files.newOutputStream(tmp)
              try bf.writeTo(os) finally os.close()
              Files.move(tmp, bloomFile(root, rel, c),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            } catch { case _: Exception => () }
          }
        }
      } catch { case _: Exception => () }
    }

  /** The value types [[buildBlooms]] hashes exactly (integrals go in
    * as longs, strings as UTF-8 bytes). A Double/Decimal probe would
    * truncate through `Number.longValue` inside `mightContain` — a
    * false negative, i.e. an unsound prune — so non-hashable candidate
    * values never prune. */
  private[graft] def bloomHashable(v: Any): Boolean = v match {
    case _: String | _: java.lang.Long | _: java.lang.Integer |
         _: java.lang.Short | _: java.lang.Byte => true
    case _ => false
  }

  /** The (dir, col) Bloom filter, if one was published. */
  private[graft] def readBloom(root: String, rel: String,
                               col: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val p = bloomFile(root, rel, col)
    if (!Files.exists(p)) return None
    try {
      val is = Files.newInputStream(p)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(is))
      finally is.close()
    } catch { case _: Exception => None }
  }

  /** Drop a dir's published Bloom filters (with the dir itself —
    * losers' discards and vacuum both route through [[dropData]]). */
  private def dropBlooms(root: String, rel: String): Unit =
    try {
      val prefix = sanitize(rel) + "."
      listDir(bloomDirPath(root))
        .filter(_.getFileName.toString.startsWith(prefix))
        .foreach(Files.deleteIfExists(_))
    } catch { case _: Exception => () }

  // --- version-keyed index sidecars: `_txlog/index/v<N>.<kind>` holds an
  // index of `kind` trained on version N's snapshot (Gold's IVF
  // centroids). Advisory and immutable like the stats sidecar: the table
  // is correct without any, and a reader of version V uses the newest
  // one of its kind trained at or before V, so the commits that keep an
  // index never touch it. A "refresh" commit (a full replace) is a
  // boundary: no index trained before it is selected at or after it,
  // even while the refresh's own index is not yet published. The bytes
  // are the owner's format; this layer names, publishes, selects,
  // vacuums and clones them. ---

  private def indexDir(root: String): Path = logDir(root).resolve("index")
  private def indexFile(root: String, version: Long, kind: String): Path =
    indexDir(root).resolve(f"v$version%08d.$kind")
  private val IndexName = """v(\d{8})\.([A-Za-z0-9_-]+)""".r

  /** Every published index as (kind, trained-at version, path): ONE
    * listing of the index directory, whose size grows with trainings,
    * not with data files. */
  private def indexes(root: String): Seq[(String, Long, Path)] =
    listDir(indexDir(root)).flatMap(p => p.getFileName.toString match {
      case IndexName(v, kind) => Some((kind, v.toLong, p))
      case _ => None
    })

  /** Per kind, the index a reader of `version` selects: the newest
    * trained at or before it, unless a refresh commit lies after it.
    * Finding the newest refresh reads the (cached) manifests from
    * `version` down to the oldest candidate; it stops at a vacuumed
    * manifest, because [[vacuum]] deletes the indexes a refresh below
    * its horizon made unselectable before it deletes any manifest. */
  private def indexesAt(root: String, version: Long): Iterable[(String, Long, Path)] = {
    val newest = indexes(root).filter(_._2 <= version).groupBy(_._1).values.map(_.maxBy(_._2))
    if (newest.isEmpty) newest
    else {
      val refreshed = Iterator.iterate(version)(_ - 1).takeWhile(_ > newest.map(_._2).min)
        .map(v => v -> actionAt(root, v)).takeWhile(_._2.nonEmpty)
        .collectFirst { case (v, Some("refresh")) => v }
      newest.filter(i => refreshed.forall(i._2 >= _))
    }
  }

  /** Version `v`'s commit action, or None once it is vacuumed. */
  private def actionAt(root: String, v: Long): Option[String] =
    try Some(snapshot(root, v).action)
    catch { case _: IllegalArgumentException | _: java.io.IOException => None }

  /** The `kind` index a reader of `version` uses, as (trained-at
    * version, path): the newest trained at or before it and not before
    * its newest refresh ([[indexesAt]]). */
  private[graft] def indexAt(root: String, kind: String, version: Long): Option[(Long, Path)] =
    indexesAt(root, version).find(_._1 == kind).map(i => (i._2, i._3))

  /** Publish `bytes` as the `kind` index trained at `version`: a temp
    * file, then an atomic rename. Concurrent trainers of a deterministic
    * index write identical bytes, so the last rename changes nothing. */
  private[graft] def publishIndex(root: String, version: Long, kind: String,
                                  bytes: Array[Byte]): Unit = {
    require(IndexName.matches(f"v$version%08d.$kind"), s"bad index kind '$kind'")
    Files.createDirectories(indexDir(root))
    val tmp = indexDir(root).resolve(s".idx-tmp-${UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, indexFile(root, version, kind),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Advisory latest-version pointer (Delta's `_last_checkpoint`
    * analogue). Best-effort: written via atomic rename after every
    * winning commit; any failure is swallowed (the full-listing
    * fallback stays correct without it). */
  private def writeHint(root: String, v: Long): Unit =
    try {
      val tmp = logDir(root).resolve(s".hint-tmp-${UUID.randomUUID()}")
      Files.writeString(tmp, v.toString)
      Files.move(tmp, hintFile(root),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case _: Exception => () }

  private def readHint(root: String): Long =
    try {
      val p = hintFile(root)
      if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
    } catch { case _: Exception => -1L }

  /** Materialized directory listing with the stream CLOSED (r14 advisor:
    * `latestVersion` runs on every optimistic-loop iteration, so an
    * unclosed `Files.list` leaks file descriptors under contention). */
  private def listDir(p: Path): Seq[Path] = {
    if (!Files.isDirectory(p)) return Nil
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Highest committed version, or -1 for an empty/absent table.
    * Counts only complete `vNNNNNNNN.json` names — a crashed writer's
    * `.tmp-*` leftovers are invisible.
    *
    * Cost: O(1 + commits since the hint) via the `_latest.hint` forward
    * probe (versions are dense: every protocol writer targets
    * latest+1, [[migrate]] targets 0). The full listing runs only for
    * hintless logs (legacy tables, or a hint pointing at a manifest
    * vacuum has since removed — impossible for the true latest, which
    * vacuum always keeps) and re-seeds the hint. */
  def latestVersion(root: String): Long = {
    val hinted = readHint(root)
    if (hinted >= 0 && Files.exists(manifest(root, hinted))) {
      var v = hinted
      while ({ manifestProbes.incrementAndGet(); Files.exists(manifest(root, v + 1)) }) v += 1
      // re-seed a stale hint (a writer that won but crashed before its
      // writeHint): without this a read-heavy, write-idle table pays the
      // O(commits-since-hint) forward probe on EVERY resolve until some
      // future commit happens to rewrite the hint (r16 advisor)
      if (v > hinted) writeHint(root, v)
      v
    } else {
      fullListings.incrementAndGet()
      val vs = listDir(logDir(root))
        .map(_.getFileName.toString)
        .collect { case ManifestName(d) => d.toLong }
      if (vs.isEmpty) -1L
      else { val mx = vs.max; writeHint(root, mx); mx }
    }
  }

  /** Resolve the snapshot at `version` (default -1 = latest committed).
    * Throws if the table is empty or the version was never committed. */
  def snapshot(root: String, version: Long = -1L): Snapshot = {
    val v = if (version >= 0) version else latestVersion(root)
    require(v >= 0, s"TxTable at $root has no committed version")
    val p = manifest(root, v)
    require(Files.exists(p), s"TxTable $root has no committed version $v")
    val (bytes, mtime) =
      (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    val key = (root, v)
    snapCacheGet(key, bytes, mtime).getOrElse {
      manifestReads.incrementAndGet()
      val s = parse(Files.readString(p))
      snapCachePut(key, CachedSnap(s, bytes, mtime))
      s
    }
  }

  /** Snapshot read — `version` -1 reads latest (time travel: pass any
    * committed version). It scans every listed dir and prunes nothing:
    * a filtered read that should skip dirs by their stats goes through
    * the connector, `spark.read.format("graft").load(root).where(...)`
    * ([[graft.sources.GraftTableSource]]). */
  def read(spark: SparkSession, root: String, version: Long = -1L): DataFrame = {
    val s = snapshot(root, version)
    readDirs(spark, root, s, s.dirs)
  }

  /** Read some of a snapshot's dirs with the MANIFEST's recorded schema
    * when the contract is active — no parquet footer inference (one
    * less metadata round per read on a many-dir table; on an object
    * store, one less GET per file sampled), and each version reads
    * under its OWN recorded schema across evolutions. Pre-contract
    * snapshots fall back to inference. */
  private def readDirs(spark: SparkSession, root: String, s: Snapshot,
                       dirs: Seq[String]): DataFrame = {
    val paths = dirs.map(d => s"$root/$d")
    if (s.schemaDdl.nonEmpty)
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(s.schemaDdl))
        .parquet(paths: _*)
    else spark.read.parquet(paths: _*)
  }

  def exists(root: String): Boolean = latestVersion(root) >= 0

  /** Is `version`'s manifest still retained (not vacuumed)? */
  def versionExists(root: String, version: Long): Boolean =
    version >= 0 && Files.exists(manifest(root, version))

  /** Metadata-only CREATE (the catalog's `CREATE TABLE` path): commit
    * version 0 with ZERO data dirs, recording `schema` as the table's
    * enforced schema — subsequent writes must match it (or pass
    * evolve). `statsCols`/`bloomCols` declare the data-skipping columns
    * as part of creation, so every later commit stats its dirs from the
    * first row written. Loses cleanly to a concurrent creator/writer
    * (returns false); reads of the empty table plan zero partitions
    * (the all-pruned scan shape). */
  def create(root: String, schema: org.apache.spark.sql.types.StructType,
             statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Boolean = {
    val ddl = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true))).toDDL
    val unknown = (statsCols ++ bloomCols).filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"declared skipping columns not in the schema: ${unknown.mkString(", ")}")
    if (exists(root)) false
    else tryCommitSnap(root,
      Snapshot(0L, "create", Nil, Nil, statsCols, ddl, "", bloomCols, Nil, Nil))
  }

  /** Commit time of `version` (the manifest file's mtime — the same
    * clock [[history]]'s `committed_at` column reports). */
  def commitTimeMs(root: String, version: Long): Long = {
    require(versionExists(root, version),
      s"TxTable at $root has no version $version")
    Files.getLastModifiedTime(manifest(root, version)).toMillis
  }

  /** `TIMESTAMP AS OF` resolution: the newest version committed at or
    * before `tsMillis`. Scans newest→oldest (manifest mtimes are
    * monotone with version), so a recent timestamp resolves in O(1)
    * probes; throws if every surviving version is newer (or the table
    * does not exist) — silently reading latest instead would time
    * travel FORWARD. */
  def versionAtTimestamp(root: String, tsMillis: Long): Long = {
    val latest = latestVersion(root)
    require(latest >= 0, s"TxTable at $root has no committed version")
    var v = latest
    while (v >= 0) {
      if (versionExists(root, v) && commitTimeMs(root, v) <= tsMillis) return v
      v -= 1
    }
    throw new IllegalArgumentException(
      s"TxTable at $root has no version committed at or before " +
        s"${new java.sql.Timestamp(tsMillis)} (earliest surviving commit is " +
        s"${new java.sql.Timestamp(commitTimeMs(root, (0L to latest).find(versionExists(root, _)).get))})")
  }

  /** Attempt to commit `dirs` (relative to root) as `version`. Returns
    * true iff this writer won the version; false = a concurrent writer
    * claimed it first — re-read, rebase, retry.
    *
    * Contract for direct callers: versions must stay DENSE (every
    * protocol writer targets latest+1; [[migrate]] targets 0) — the
    * hinted forward probe in [[latestVersion]] stops at the first gap,
    * so a direct commit that skips versions would be invisible to
    * hinted discovery until the gap fills. */
  def tryCommit(root: String, version: Long, action: String, dirs: Seq[String],
                parts: Seq[String] = Nil): Boolean =
    tryCommitSnap(root, Snapshot(version, action, dirs, parts))

  private def tryCommitSnap(root: String, snap: Snapshot): Boolean = {
    Files.createDirectories(logDir(root))
    val tmp = logDir(root).resolve(s"v${snap.version}.json.tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, render(snap))
    val won =
      try { Files.createLink(manifest(root, snap.version), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    Files.deleteIfExists(tmp)
    if (won) writeHint(root, snap.version)
    won
  }

  /** [[tryCommit]] as the protocol writers call it, with the two vacuum
    * race guards (r15 advisor): every listed data dir's mtime is
    * re-anchored to NOW immediately before the attempt — the vacuum
    * grace window is measured from mtime, so a multi-partition writer
    * whose later dirs take longer than graceMs cannot have its FIRST
    * dirs age past the horizon while still uncommitted — and after
    * WINNING, every dir is re-verified to exist, failing loudly if a
    * concurrent vacuum deleted one anyway (a torn commit must never be
    * reported as success). Carried-by-reference dirs get touched too:
    * harmless (they are manifest-protected from vacuum regardless). */
  private def tryCommitAnchored(root: String, snap: Snapshot,
                                freshStats: Seq[DirStat] = Nil,
                                freshStrStats: Seq[DirStrStat] = Nil): Boolean = {
    val version = snap.version
    val entries = snap.entries
    val now = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    entries.foreach { case (rel, _) =>
      val p = Paths.get(root, rel)
      if (Files.isDirectory(p)) Files.setLastModifiedTime(p, now)
    }
    beforeCommitHook()
    val won = tryCommitSnap(root, snap)
    if (won) {
      val missing = entries.map(_._1)
        .filterNot(rel => Files.isDirectory(Paths.get(root, rel)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"TxTable $root v$version won its commit but data dirs were vacuumed " +
          s"mid-commit: ${missing.mkString(", ")} — raise vacuum graceMs or do " +
          "not vacuum concurrently with writers")
      // data-skipping stats: dirs are immutable, so any prior version's
      // stat for a dir this commit carries stays exact — carry those
      // forward, add this commit's fresh ones (advisory best-effort:
      // a crash before this write only disables pruning at `version`)
      val dirs = entries.map(_._1).toSet
      val carried =
        if (version > 0) readStats(root, version - 1).filter(s => dirs(s.dir))
        else Nil
      val carriedStr =
        if (version > 0) readStrStats(root, version - 1).filter(s => dirs(s.dir))
        else Nil
      val all = carried ++ freshStats
      val allStr = carriedStr ++ freshStrStats
      if (all.nonEmpty || allStr.nonEmpty)
        try Files.writeString(statsFile(root, version),
          renderStats(version, all, allStr))
        catch { case _: Exception => () }
    }
    won
  }

  /** The min/max aggregates behind a dir's stats on `cols` (those of
    * `df`'s columns). Strings aggregate RAW (Spark's min/max on
    * StringType is UTF8String = code-point order, matching strCompare);
    * numerics keep the cast-to-double form. */
  private def statAggs(df: DataFrame, cols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    df.schema.fields.toSeq.filter(f => cols.contains(f.name)).flatMap { f =>
      val v = if (f.dataType == org.apache.spark.sql.types.StringType) col(f.name)
              else col(f.name).cast("double")
      Seq(fmin(v).as(s"_mn_${f.name}"), fmax(v).as(s"_mx_${f.name}"))
    }
  }

  /** `rel`'s stats from the values of [[statAggs]] over `df` (`agg`
    * maps an aggregate's name to its value, null for NULL). Three stat
    * shapes:
    *  - finite min/max: the normal range stat;
    *  - NULL aggregates (empty dir, or the column is all-NULL): the
    *    EMPTY-RANGE sentinel (min = +Inf, max = -Inf) — such a dir has
    *    no row that any range predicate can match (NULL never satisfies
    *    BETWEEN), so pruning it is sound and an ingest pipeline's empty
    *    batches stop costing a scan forever;
    *  - NaN anywhere: NO stat (Spark's max() is NaN-greatest, so the
    *    range is meaningless) — an unstatted (dir, col) is always
    *    scanned, the sound default (r16 advisor's NaN finding). */
  private def statsFrom(rel: String, df: DataFrame, cols: Seq[String],
                        agg: String => Any): (Seq[DirStat], Seq[DirStrStat]) = {
    val present = df.schema.fields.toSeq.filter(f => cols.contains(f.name))
    val (str, num) = present.partition(_.dataType == org.apache.spark.sql.types.StringType)
    (num.flatMap { f =>
      (agg(s"_mn_${f.name}"), agg(s"_mx_${f.name}")) match {
        case (mn: Double, mx: Double) =>
          if (mn.isNaN || mx.isNaN) None else Some(DirStat(rel, f.name, mn, mx))
        case _ => Some(DirStat(rel, f.name, Double.PositiveInfinity, Double.NegativeInfinity))
      }
    }, str.flatMap { f =>
      (agg(s"_mn_${f.name}"), agg(s"_mx_${f.name}")) match {
        case (mn: String, mx: String) => truncMax(mx).map(DirStrStat(rel, f.name, truncMin(mn), _))
        case _ => Some(DirStrStat(rel, f.name, "￿", "")) // empty/all-NULL: sentinel
      }
    })
  }

  /** Exact per-dir min/max for `cols`, read back from each of `rels` —
    * ONE min/max aggregation per dir, under `s`'s recorded schema (no
    * footer-inference job; a dir written before an evolve reads the
    * added columns as NULL). Commits take their fresh dirs' stats from
    * the write itself ([[writeData]]); this serves [[setStatsColumns]],
    * which stats dirs that already exist, and is the reference the
    * observed stats are spec-pinned equal to. */
  private[graft] def dirStatsOf(spark: SparkSession, root: String, s: Snapshot,
                                rels: Seq[String],
                                cols: Seq[String]): (Seq[DirStat], Seq[DirStrStat]) = {
    val acc = rels.map { rel =>
      val df = readDirs(spark, root, s, Seq(rel))
      val aggs = statAggs(df, cols)
      if (aggs.isEmpty) (Nil, Nil)
      else {
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        statsFrom(rel, df, cols, n => r.get(r.fieldIndex(n)))
      }
    }
    (acc.flatMap(_._1), acc.flatMap(_._2))
  }

  /** The schema-enforcement gate (Delta's recipe): every commit records
    * the nullable-normalized DDL of the frame it writes; a commit whose
    * schema differs from the table's recorded one is rejected up front
    * unless the caller passes `evolve = true`, which records the new
    * schema instead. Nullability is normalized out of the fingerprint —
    * an in-memory frame's non-null Long and its parquet round-trip's
    * nullable Long are the same contract. Pre-contract tables (no
    * recorded schema) accept any frame and start recording. */
  private def resolveSchema(root: String, base: Option[Snapshot],
                            df: DataFrame, evolve: Boolean): String = {
    val ddl = org.apache.spark.sql.types.StructType(
      df.schema.fields.map(_.copy(nullable = true))).toDDL
    base.foreach { s =>
      if (s.schemaDdl.nonEmpty && s.schemaDdl != ddl && !evolve)
        throw new IllegalArgumentException(
          s"TxTable $root schema mismatch: table has [${s.schemaDdl}], " +
            s"commit has [$ddl] — pass evolve = true to change the table schema")
    }
    ddl
  }

  /** A fresh data dir (relative to root) and what its write observed:
    * its row count and its stats on the columns the write was asked for. */
  private final case class Written(rel: String, rows: Long,
                                   stats: Seq[DirStat], strStats: Seq[DirStrStat])

  /** Write `df` as a fresh immutable data dir, unreferenced until some
    * manifest lists it. The write's own job observes the dir's row count
    * and its [[statsFrom]] stats on `cols` (`Dataset.observe`), so a
    * commit stats its fresh dirs without reading them back. */
  private def writeData(root: String, version: Long, df: DataFrame,
                        cols: Seq[String] = Nil): Written = {
    import org.apache.spark.sql.functions.{count, lit}
    val rel = s"data/v$version-${UUID.randomUUID().toString.take(8)}"
    val seen = org.apache.spark.sql.Observation()
    df.observe(seen, count(lit(1)).as("_rows"), statAggs(df, cols): _*).write.parquet(s"$root/$rel")
    val agg = seen.get
    val (stats, strStats) = statsFrom(rel, df, cols, agg.getOrElse(_, null))
    Written(rel, agg("_rows").asInstanceOf[Long], stats, strStats)
  }

  private def dropData(root: String, rel: String): Unit = {
    val dir = Paths.get(root, rel)
    if (Files.isDirectory(dir)) {
      val s = Files.walk(dir)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(Files.delete)
    }
    dropBlooms(root, rel)
  }

  /** What a writer's attempt on [[commitLoop]]'s base snapshot returns. */
  private sealed trait Attempt
  /** Nothing to commit: the writer returns `version`. */
  private final case class NoOp(version: Long) extends Attempt
  /** `snap` is the manifest to commit; the loop sets its version.
    * `fresh` are the dirs the attempt wrote, with the stats their writes
    * observed: the loop records those stats, blooms the dirs and drops
    * them on a loss. `stats`/`strStats` are further stats the attempt
    * has. `fastForward` re-bases the same fresh dirs onto the winner's
    * snapshot after a loss (None: recompute). */
  private final case class Proposal(snap: Snapshot, fresh: Seq[Written] = Nil,
                                    stats: Seq[DirStat] = Nil,
                                    strStats: Seq[DirStrStat] = Nil,
                                    fastForward: Option[Snapshot => Option[Snapshot]] = None)
    extends Attempt

  /** A manifest over `entries` that keeps `base`'s table metadata:
    * stats and bloom columns, schema, layout and txn ledger. */
  private def next(base: Option[Snapshot], action: String,
                   entries: Seq[(String, String)]): Snapshot =
    base.getOrElse(Snapshot(-1L, action, Nil))
      .copy(action = action, dirs = entries.map(_._1), parts = entries.map(_._2))

  private def required(root: String, base: Option[Snapshot]): Snapshot = {
    require(base.nonEmpty, s"TxTable at $root has no committed version")
    base.get
  }

  /** The stats columns a commit on `base` declares. */
  private def declared(base: Option[Snapshot]): Seq[String] = base.toSeq.flatMap(_.statsCols)

  /** Write `df` as one fresh whole-table dir after `kept`. */
  private def written(root: String, base: Option[Snapshot], action: String,
                      df: DataFrame, ddl: String,
                      kept: Seq[(String, String)] = Nil): Proposal = {
    val w = writeData(root, base.fold(0L)(_.version + 1), df, declared(base))
    Proposal(next(base, action, kept :+ (w.rel -> "")).copy(schemaDdl = ddl), Seq(w))
  }

  /** The optimistic commit loop every retrying writer runs (see "Commit
    * protocol" in the object doc). `wholeTable` names the action of a
    * writer that adds a whole-table entry, which a partition-scoped
    * layout refuses; `txn` tags the commit with (appId, batchId) and
    * makes a replayed batch a no-op. On a table that does not exist yet,
    * the attempt's base is an empty version -1 declaring `statsCols` and
    * `bloomCols`, so the first commit declares them as [[create]] would,
    * without create's empty version 0. */
  private def commitLoop(spark: SparkSession, root: String, wholeTable: String = "",
                         txn: Option[(String, Long)] = None, statsCols: Seq[String] = Nil,
                         bloomCols: Seq[String] = Nil)(
      attempt: Option[Snapshot] => Attempt): Long = {
    txn.foreach { case (appId, _) =>
      require(appId.nonEmpty, "appId must be non-empty")
      // same manifest-encoding constraint as partition values: a ']'
      // truncates the bracket-delimited list on re-parse, desyncing the
      // apps/ids lists (the sink sanitizes its derived ids before calling)
      require(!appId.contains("]"),
        s"appId '$appId' is not representable in the manifest encoding " +
          "(must not contain ']')")
    }
    var committed = -1L
    while (committed < 0) {
      val baseV = latestVersion(root)
      val base = if (baseV >= 0) Some(snapshot(root, baseV))
                 else Option.when(statsCols.nonEmpty || bloomCols.nonEmpty)(
                   Snapshot(-1L, "create", Nil, statsCols = statsCols, bloomCols = bloomCols))
      // a whole-table ("") entry on a partition-scoped layout makes
      // every later scoped merge fail its partitioned-history check —
      // permanently. Fail THIS call instead (refresh is exempt: a full
      // replace legitimately re-establishes layout)
      if (wholeTable.nonEmpty) base.foreach(s => require(s.entries.forall(_._2.isEmpty),
        s"TxTable $root has a partition-scoped layout — a whole-table $wholeTable would " +
          "permanently break scoped merges; use mergeUpsertPartitioned (from a " +
          "streaming sink, through foreachBatch), or refresh to deliberately re-layout"))
      val replay = txn.exists { case (app, id) => base.exists(_.txns.get(app).exists(_ >= id)) }
      // the txn tag rides the first proposal and every fast-forward of it
      def tag(s: Snapshot) = txn.fold(s) { case (app, id) =>
        val txns = s.txns + (app -> id)
        s.copy(txnApps = txns.keys.toSeq, txnIds = txns.keys.toSeq.map(txns))
      }
      (if (replay) NoOp(baseV) else attempt(base)) match {
        case NoOp(v) => committed = v
        case p: Proposal =>
          val tagged = tag(p.snap)
          buildBlooms(spark, root, p.fresh.map(_.rel), tagged.bloomCols)
          var snap = Option(tagged.copy(version = baseV + 1))
          while (committed < 0 && snap.nonEmpty) {
            if (tryCommitAnchored(root, snap.get, p.stats ++ p.fresh.flatMap(_.stats),
                p.strStats ++ p.fresh.flatMap(_.strStats))) {
              committed = snap.get.version
              if (committed > baseV + 1) fastForwardCommits.incrementAndGet()
            } else snap = p.fastForward.flatMap(_(snapshot(root))).map(tag)
          }
          if (committed < 0) {
            if (p.fastForward.nonEmpty) rebaseRecomputes.incrementAndGet()
            p.fresh.foreach(w => dropData(root, w.rel))
          }
      }
    }
    committed
  }

  /** Full-replace commit — the reference's `drop_old=True` refresh with
    * history kept. Returns the committed version. `evolve` permits a
    * schema change (recorded for subsequent commits to enforce). */
  def refresh(spark: SparkSession, root: String, df: DataFrame,
              evolve: Boolean = false): Long =
    refreshDeclaring(spark, root, df, evolve, Nil)

  /** [[refresh]]; on a table that does not exist yet, the commit declares
    * `statsCols` and `bloomCols` ([[Gold]] declares its key, a
    * `df.write.format("graft")` its skipping options). */
  private[graft] def refreshDeclaring(spark: SparkSession, root: String, df: DataFrame,
                                      evolve: Boolean, statsCols: Seq[String],
                                      bloomCols: Seq[String] = Nil): Long =
    commitLoop(spark, root, statsCols = statsCols, bloomCols = bloomCols) { base =>
      written(root, base, "refresh", df, resolveSchema(root, base, df, evolve))
    }

  /** Append-only commit: prior snapshot's dirs + the new batch. */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             evolve: Boolean = false): Long =
    appendDeclaring(spark, root, batch, evolve, Nil, Nil)

  /** [[append]]; on a table that does not exist yet, the commit declares
    * `statsCols` and `bloomCols`. */
  private[graft] def appendDeclaring(spark: SparkSession, root: String, batch: DataFrame,
                                     evolve: Boolean, statsCols: Seq[String],
                                     bloomCols: Seq[String]): Long =
    commitLoop(spark, root, wholeTable = "append", statsCols = statsCols,
      bloomCols = bloomCols)(appending(root, batch, evolve))

  /** Idempotent append for replayable writers (Delta's `txn` recipe —
    * the streaming-sink contract): commit `batch` tagged with
    * (`appId`, `batchId`); if the table has already committed this
    * appId at `batchId` or beyond, the call is a NO-OP returning the
    * current version — so an at-least-once writer (a Structured
    * Streaming sink replaying `addBatch` after a crash, a retried job)
    * gets exactly-once table contents. The txn record rides the
    * manifest (atomic with the data becoming visible); batch ids must
    * be monotonically increasing per appId, which the streaming
    * engine's batch counter provides. */
  def appendIdempotent(spark: SparkSession, root: String, batch: DataFrame,
                       appId: String, batchId: Long,
                       evolve: Boolean = false): Long =
    commitLoop(spark, root, wholeTable = "append", txn = Some(appId -> batchId))(
      appending(root, batch, evolve))

  private def appending(root: String, batch: DataFrame, evolve: Boolean)(
      base: Option[Snapshot]): Attempt =
    written(root, base, "append", batch, resolveSchema(root, base, batch, evolve),
      base.toSeq.flatMap(_.entries))

  /** Transactional keyed MERGE (last-writer-wins upsert, the
    * [[Gold.merge]] semantics) of a whole-table table, whose one merge
    * scope is the whole table: a lost race REBASES the merge onto the
    * winner's snapshot, so no concurrent writer's rows are ever lost.
    * Returns the committed version. */
  def mergeUpsert(spark: SparkSession, root: String, incoming: DataFrame,
                  key: String, evolve: Boolean = false): Long =
    mergeUpsertDeclaring(spark, root, incoming, key, evolve, Nil)

  /** [[mergeUpsert]]; on a table that does not exist yet, the commit
    * declares `statsCols` ([[Gold]] declares its key, so every later
    * upsert scopes its MERGE by key ranges). */
  private[etl] def mergeUpsertDeclaring(spark: SparkSession, root: String, incoming: DataFrame,
                                        key: String, evolve: Boolean,
                                        statsCols: Seq[String]): Long =
    commitLoop(spark, root, wholeTable = "merge", statsCols = statsCols)(
      merging(spark, root, incoming, Seq(key), evolve, Seq("" -> incoming)))

  /** Delta's RESTORE (`RESTORE TABLE t TO VERSION AS OF v`): make the
    * CURRENT table state equal `version`'s via ONE metadata commit
    * (action "restore") that lists the old version's dirs BY
    * REFERENCE — zero data bytes moved, history intact: the mistaken
    * refresh/delete/merge being undone AND the restored-from version
    * both stay time-travel readable, so a restore is itself
    * restorable. The restored version's recorded schema, layout,
    * declared stats/bloom columns, and per-dir skipping stats all come
    * back with it (dirs are immutable, so the old sidecar's stats are
    * exact forever and are re-injected into the new version's
    * sidecar). The CURRENT txn ledger is kept, NOT the old one —
    * writer idempotence tracks writer progress, not table content, and
    * restoring an old ledger would un-record replayed streaming
    * batches into double-commits. Restoring to the current version is
    * a no-op returning it. Fails loudly if `version` was vacuumed. */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    val src = snapshot(root, version) // throws if absent/vacuumed
    val dirs = src.dirs.toSet
    commitLoop(spark, root) { b =>
      val base = required(root, b)
      if (base.version == version) NoOp(version)
      else Proposal(src.copy(action = "restore", txnApps = base.txnApps, txnIds = base.txnIds),
        stats = readStats(root, version).filter(s => dirs(s.dir)),
        strStats = readStrStats(root, version).filter(s => dirs(s.dir)))
    }
  }

  /** Idempotent keyed MERGE for replayable writers — [[mergeUpsert]]
    * semantics under the [[appendIdempotent]] txn-ledger contract: the
    * commit is tagged (`appId`, `batchId`); a replayed batch (appId
    * already at `batchId` or beyond) NO-OPS. This is the Update-mode
    * streaming sink's primitive: a Structured Streaming query emitting
    * keyed upserts lands exactly-once in the table across `addBatch`
    * replays, one `writeStream` instead of foreachBatch glue. Keys may
    * be composite — `keys` rows merge last-writer-wins per distinct
    * key tuple. */
  def mergeUpsertIdempotent(spark: SparkSession, root: String,
                            incoming: DataFrame, keys: Seq[String],
                            appId: String, batchId: Long,
                            evolve: Boolean = false): Long = {
    require(keys.nonEmpty, "mergeUpsertIdempotent needs at least one key column")
    commitLoop(spark, root, wholeTable = "merge", txn = Some(appId -> batchId))(
      merging(spark, root, incoming, keys, evolve, Seq("" -> incoming)))
  }

  /** Partition-scoped MERGE — the commit shape the class doc promises
    * for 100 TB: the same merge attempt as [[mergeUpsert]] with one
    * scope per `partCol` value, so it rewrites ONLY the partitions the
    * incoming batch touches; every untouched partition's data dirs are
    * carried into the new manifest BY REFERENCE, zero bytes moved.
    * Partition values are compared in string form (the manifest is
    * JSON); a NULL partition value is REJECTED up front (r15 advisor:
    * it used to be silently dropped — data loss without an error), as
    * are values the flat manifest encoding cannot represent (empty, or
    * containing ']', which would truncate the bracket-delimited parts
    * list on re-parse and permanently degrade the table to whole-table
    * entries). The first commit on an empty table establishes the
    * partitioned layout; mixing with whole-table commits
    * ([[refresh]]/[[append]]/[[mergeUpsert]], part="") is rejected — a
    * whole-table entry can hold any partition's rows, so a scoped
    * rewrite over it would drop the other partitions' rows it contains.
    *
    * Concurrency: a writer that loses the version race to a DISJOINT
    * winner (one that left every partition this writer touched with
    * exactly its base's entries) keeps its fresh dirs — they are still
    * the correct merge results — adopts the winner's entries for
    * everything else and re-commits at latest+1 (a manifest merge, zero
    * data recomputed; [[fastForwardCommits]] counts these). Only an
    * overlapping writer — or a whole-table action like compact, which
    * rewrites every partition's dirs — forces the rebase recompute
    * ([[rebaseRecomputes]]). Two writers on disjoint partitions
    * therefore both commit with one data write each. */
  def mergeUpsertPartitioned(spark: SparkSession, root: String, incoming: DataFrame,
                             key: String, partCol: String,
                             evolve: Boolean = false,
                             layout: String = ""): Long = {
    // touched partitions: one small distinct over the batch, bounded by
    // the table's partition count (driver-safe by the layout's design).
    // NULLs are collected rather than dropped so the contract violation
    // fails fast instead of silently losing the null-partition rows.
    val pvals = incoming.select(col(partCol).cast("string").as("p"))
      .distinct().collect().map(r => Option(r.getString(0))).toSeq
    require(!pvals.contains(None),
      s"incoming batch carries rows with NULL $partCol — a partition-scoped " +
        "merge would silently drop them; fix or filter upstream")
    val touched = pvals.flatten.sorted
    require(touched.nonEmpty, "incoming batch has no non-null partition values")
    touched.foreach(p => require(p.nonEmpty && !p.contains("]"),
      s"partition value '$p' is not representable in the manifest encoding " +
        "(must be non-empty and must not contain ']')"))
    val scopes = touched.map(p => p -> incoming.filter(col(partCol).cast("string") === p))
    commitLoop(spark, root) { base =>
      base.foreach { s =>
        require(s.entries.forall(_._2.nonEmpty),
          s"TxTable $root has whole-table entries; partition-scoped merge " +
            "requires a partitioned history (start with mergeUpsertPartitioned)")
        // layout contract (r16 verdict task — the StateBuckets-rebuild
        // hazard): a caller-declared scoping descriptor must match the
        // one recorded at layout creation; a writer compiled with a
        // different bucketing constant fails HERE instead of silently
        // mis-scoping keys into fresh buckets (duplicate-key corruption)
        if (s.layout.nonEmpty && layout.nonEmpty && layout != s.layout)
          throw new IllegalArgumentException(
            s"TxTable $root layout mismatch: table was created with " +
              s"[${s.layout}], this writer declares [$layout] — the " +
              "scoping constant is part of the persistent layout")
      }
      merging(spark, root, incoming, Seq(key), evolve, scopes, layout)(base)
    }
  }

  /** The one keyed MERGE attempt behind [[mergeUpsert]],
    * [[mergeUpsertIdempotent]] and [[mergeUpsertPartitioned]]. `scopes`
    * pairs each manifest part the batch touches with the batch's rows
    * for it: the single scope "" for a whole-table table, one partition
    * value each for a partitioned one. A scope merges one of two ways:
    *  - when a key column is a declared stats column and every base dir
    *    of the scope carries a stat on it, its rows are written first as
    *    a dir A, and A's observed key ranges prune the scope's dirs to
    *    the candidates that may hold an incoming key ([[pruneSnapshot]]).
    *    With no candidate, A is the scope's fresh dir: an insert-only
    *    batch reads nothing of the base. Otherwise the candidates merge
    *    with A into one fresh dir, and A goes;
    *  - otherwise every base dir of the scope is a candidate, merged
    *    with its rows into one fresh dir.
    * Candidates are read under the schema this commit records (a dir
    * written before an evolve reads the added columns as NULL, as in
    * [[rewriteDirs]]) and merged through [[Gold.merge]]; every other
    * entry carries by reference. */
  private def merging(spark: SparkSession, root: String, incoming: DataFrame,
                      keys: Seq[String], evolve: Boolean,
                      scopes: Seq[(String, DataFrame)], layout: String = "")(
      base: Option[Snapshot]): Attempt = {
    // gate the INCOMING frame before merging: unionByName would
    // otherwise surface a mismatched schema as an AnalysisException
    // instead of the contract's rejection
    val ddl = resolveSchema(root, base, incoming, evolve)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    def read(dirs: Seq[String]) = spark.read.schema(schema).parquet(dirs.map(d => s"$root/$d"): _*)
    val whole = scopes.map(_._1) == Seq("")
    val baseEntries = base.toSeq.flatMap(_.entries)
    val statsCols = declared(base)
    val statted = base.toSeq.flatMap(s =>
      readStats(root, s.version).map(st => (st.dir, st.col)) ++
        readStrStats(root, s.version).map(st => (st.dir, st.col))).toSet
    def write(df: DataFrame) = writeData(root, base.fold(0L)(_.version + 1), df, statsCols)
    def mergeInto(dirs: Seq[String], rows: DataFrame) =
      if (dirs.isEmpty) rows else Gold.merge(read(dirs), rows, keys)
    type Span = (Map[String, (Double, Double)], Map[String, (String, Option[String])])
    // the dirs among `dirs` whose stats at `s` admit a key in `span`
    def admitted(s: Snapshot, dirs: Seq[String], span: Span) =
      if (dirs.isEmpty) Nil else pruneSnapshot(root, s.copy(dirs = dirs, parts = Nil), span._1, span._2)._1
    // per scope: (part, the base dirs it replaces, the key span of its
    // rows — empty when unknown, which admits every dir —, its fresh dir)
    val merged: Seq[(String, Seq[String], Span, Written)] = scopes.map { case (p, rows) =>
      val dirs = baseEntries.filter(_._2 == p).map(_._1)
      val keyed = keys.filter(k => statsCols.contains(k) && dirs.forall(d => statted((d, k))))
      if (keyed.isEmpty) (p, dirs, (Map.empty, Map.empty), write(mergeInto(dirs, rows)))
      else {
        val a = write(rows)
        val span: Span = (a.stats.filter(s => keyed.contains(s.col)).map(s => s.col -> (s.min, s.max)).toMap,
          a.strStats.filter(s => keyed.contains(s.col)).map(s => s.col -> (s.min, Option(s.max))).toMap)
        val candidates = admitted(base.get, dirs, span)
        if (candidates.isEmpty) (p, Nil, span, a)
        else {
          val m = write(mergeInto(candidates, read(Seq(a.rel))))
          dropData(root, a.rel)
          (p, candidates, span, m)
        }
      }
    }
    val replaced = merged.flatMap { case (p, ds, _, _) => ds.map(_ -> p) }.toSet
    def kept(es: Seq[(String, String)]) = es.filterNot(replaced) ++ merged.map(m => m._4.rel -> m._1)
    val proposal = next(base, "merge", kept(baseEntries)).copy(schemaDdl = ddl,
      layout = base.map(_.layout).filter(_.nonEmpty).getOrElse(layout))
    // a winner of the same kind (whole-table or scoped), with the schema
    // and the declared stats/bloom columns the fresh dirs were written
    // for, leaves the fresh dirs correct when, in every scope, it kept
    // each replaced dir and every dir it added holds no key of the
    // scope's span: adopt its entries for everything else (dir names
    // keep the base's v<N> prefix — the name is cosmetic, the manifest
    // is the binding reference). For a scope without a span that means
    // a winner that changed none of its entries.
    Proposal(proposal, merged.map(_._4), fastForward = Some(cur =>
      if (cur.entries.forall(_._2.isEmpty == whole) &&
          (cur.schemaDdl.isEmpty || cur.schemaDdl == ddl) &&
          cur.statsCols == proposal.statsCols && cur.bloomCols == proposal.bloomCols &&
          merged.forall { case (p, ds, span, _) =>
            val now = cur.entries.filter(_._2 == p).map(_._1)
            val before = baseEntries.filter(_._2 == p).map(_._1).toSet
            ds.forall(now.contains) && admitted(cur, now.filterNot(before), span).isEmpty
          })
        Some(next(Some(proposal), "merge", kept(cur.entries)).copy(
          version = cur.version + 1, txnApps = cur.txnApps, txnIds = cur.txnIds))
      else None))
  }

  /** One-shot legacy adoption: commit `df` as version 0 iff no version
    * exists yet, returning true iff THIS caller won. A FIXED target
    * with no retry loop (r15 advisor: a retrying migrator would rebase
    * to latest+1 and replay the legacy contents OVER a concurrent
    * writer's already-merged commit — a lost update on exactly the
    * migration path); losing version 0 means another writer already
    * established the table, so the caller just proceeds and its own
    * operation rebases normally. */
  def migrate(spark: SparkSession, root: String, df: DataFrame): Boolean = {
    if (exists(root)) return false
    val ddl = resolveSchema(root, None, df, evolve = false)
    val rel = writeData(root, 0L, df).rel
    val won = tryCommitAnchored(root,
      Snapshot(0L, "migrate", Seq(rel), Seq(""), Nil, ddl, ""))
    if (!won) dropData(root, rel)
    won
  }

  /** Same-data re-layout commit (round-15, verdict task 7: the
    * [[Compact]] operation as a TABLE-FORMAT commit instead of a
    * directory swap): reads the CURRENT snapshot, rewrites each
    * partition-scoped entry group (or the whole table) into
    * ceil(bytes / targetBytes) files, and commits as action "compact".
    * Concurrent upserts serialize with it through the optimistic loop —
    * losing the race re-reads the NEW latest (upsert included) and
    * re-lays THAT out, so no update is ever lost (TxTableSpec pins the
    * interleaving). Pre-compaction versions stay readable (time travel)
    * until [[vacuum]]. Returns the committed version. */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = Compact.DefaultTargetBytes,
              clusterBy: Seq[String] = Nil,
              zOrder: Boolean = false): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(!zOrder || clusterBy.length >= 2,
      "zOrder interleaves multiple columns — pass >= 2 clusterBy columns " +
        "(a single column is just the linear layout)")
    def dirBytes(rel: String): Long = {
      val s = Files.walk(Paths.get(root, rel))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
    commitLoop(spark, root) { b =>
      val base = required(root, b)
      val target = base.version + 1
      // one re-layout dir per partition group (preserves the scoped
      // layout so later partition merges still rewrite only their slice)
      val groups = base.entries.groupBy(_._2).toSeq.sortBy(_._1)
      // the clustered pass stats the clusterBy columns itself
      val observed = base.statsCols.filterNot(clusterBy.contains)
      val freshAll: Seq[(Written, String, Seq[DirStat])] = groups.flatMap { case (p, es) =>
        val bytes = es.map(e => dirBytes(e._1)).sum
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        val df = spark.read.parquet(es.map(e => s"$root/${e._1}"): _*)
        if (clusterBy.isEmpty) Seq((writeData(root, target, df.coalesce(nOut), observed), p, Nil))
        else clusteredDirs(spark, root, target, p, df, nOut, clusterBy, zOrder, observed)
      }
      Proposal(next(b, "compact", freshAll.map(f => f._1.rel -> f._2)), freshAll.map(_._1),
        stats = freshAll.flatMap(_._3))
    }
  }

  /** Range-clustered re-layout of one partition group (round 16 — the
    * Delta paper's data-skipping layout step: cluster so per-object
    * min/max ranges are TIGHT, then prune scans on them). Two layouts:
    *
    *  - LINEAR (default): `nOut` range buckets of the leading cluster
    *    column, lexicographic locality on the rest via the in-dir sort
    *    — tight ranges on the leading column only.
    *  - Z-ORDER (`zOrder = true`, ≥ 2 cluster columns — the Delta
    *    `OPTIMIZE ZORDER BY` recipe): each column maps to its
    *    quantile-rank bucket index, the per-column indices BIT-
    *    INTERLEAVE into a Morton key ([[zValue]]), and the buckets are
    *    key ranges — each dir covers a near-square region of the
    *    multi-column space, so a predicate on ANY clustered column
    *    prunes ~dirs^((k-1)/k) of the dirs instead of either all
    *    (non-leading linear) or 1/nOut (leading only).
    *
    * approxQuantile boundaries only POSITION the cuts — the recorded
    * stats are EXACT per-bucket min/max from one grouped aggregation,
    * so skipping soundness never depends on the sampling. Cluster
    * columns must be numeric. */
  private def clusteredDirs(spark: SparkSession, root: String, target: Long,
                            part: String, df: DataFrame, nOut: Int,
                            clusterBy: Seq[String], zOrder: Boolean,
                            observed: Seq[String]): Seq[(Written, String, Seq[DirStat])] = {
    import org.apache.spark.sql.functions.{lit, when, min => fmin, max => fmax, count => fcount}
    val useZ = zOrder && clusterBy.length >= 2
    // cache the INPUT before any quantile pass — zValue's rank bounds,
    // the _zv bucket bounds, and the per-bucket writes all re-read it
    val src = df.cache()
    val work = if (useZ) src.withColumn("_zv", zValue(src, clusterBy)) else src
    try {
      val keyName = if (useZ) "_zv" else clusterBy.head
      val bounds =
        if (nOut <= 1) Array.empty[Double]
        else work.stat.approxQuantile(keyName,
          (1 until nOut).map(_.toDouble / nOut).toArray, 0.001).distinct
      val bucketed = work.withColumn("_cb",
        bounds.foldLeft(lit(0)) { (acc, b) =>
          acc + when(col(keyName).cast("double") > lit(b), 1).otherwise(0)
        })
      // one pass: per-bucket row counts + EXACT min/max of every cluster col
      val aggs = clusterBy.flatMap(c => Seq(
        fmin(col(c).cast("double")).as(s"_min_$c"), fmax(col(c).cast("double")).as(s"_max_$c")))
      val statRows = bucketed.groupBy(col("_cb"))
        .agg(fcount(lit(1)).as("_n"), aggs: _*)
        .collect() // ≤ nOut + 1 rows: ceil(bytes/target) — driver-bounded
        .filter(_.getLong(1) > 0L)
        .sortBy(_.getInt(0))
      statRows.map { r =>
        val b = r.getInt(0)
        val sortCols = if (useZ) Seq(col("_zv")) else clusterBy.map(col)
        val slice = bucketed.filter(col("_cb") === b).drop("_cb")
          .coalesce(1).sortWithinPartitions(sortCols: _*)
          .drop("_zv") // no-op on the linear path
        val w = writeData(root, target, slice, observed)
        // all-NULL cluster column in a bucket → null aggregate (getDouble
        // would NPE); NaN rows → NaN max (NaN-greatest ordering). Either
        // way: omit the stat — an unstatted (dir, col) is always scanned
        // (r16 advisor, both findings)
        val stats = clusterBy.flatMap { c =>
          val (i, j) = (r.fieldIndex(s"_min_$c"), r.fieldIndex(s"_max_$c"))
          if (r.isNullAt(i) || r.isNullAt(j) ||
              r.getDouble(i).isNaN || r.getDouble(j).isNaN) Nil
          else Seq(DirStat(w.rel, c, r.getDouble(i), r.getDouble(j)))
        }
        (w, part, stats)
      }.toSeq
    } finally src.unpersist()
  }

  /** Morton (bit-interleaved) clustering key: each column maps to its
    * quantile-rank bucket index (≤ 2^bitsPerCol ranks, NULLs to rank 0
    * like the linear path), and bit j of column i lands at interleaved
    * position j·k + i — so a contiguous key range covers a near-square
    * region of the k-column space. Quantile ranks, not raw values:
    * interleaving is only balanced when every column's index is
    * uniformly spread, which rank-bucketing gives for ANY value
    * distribution (the standard Z-order-on-ranks construction). */
  private def zValue(df: DataFrame,
                     cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{array, filter, lit, shiftleft, shiftright, size}
    val k = cols.length
    val bitsPerCol = math.max(2, 16 / k)
    val buckets = 1 << bitsPerCol
    // one multi-column quantile pass for every column's rank bounds
    // (the per-column form would re-scan the input k times)
    val allBounds = df.stat.approxQuantile(cols.toArray,
      (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
    // rank = |{bounds below the value}| via a bounds-ARRAY + lambda —
    // NOT a when-chain fold: 255 nested whens, re-inlined into every
    // interleave term and bucket filter by Catalyst's project collapse,
    // blow up janino's compile-time memory (measured OOM in the spec
    // suite). An array literal is data, not control flow — codegen
    // stays flat. NULL values rank 0, matching the linear path.
    val idx = cols.zipWithIndex.map { case (c, ci) =>
      val bounds = allBounds(ci).distinct.sorted
      size(filter(array(bounds.map(lit): _*),
        b => col(c).cast("double") > b))
    }
    (for { j <- 0 until bitsPerCol; i <- 0 until k } yield
      shiftleft(shiftright(idx(i), j).bitwiseAND(lit(1)), j * k + i))
      .reduce(_ + _)
  }

  /** Manifest-level data skipping (the Delta paper's §4.3 read path),
    * the one prune decision of every reader and rewriter: which of the
    * resolved snapshot's dirs can hold rows matching a conjunction of
    * per-column [lo, hi] ranges, string ranges and point sets (the
    * shape a query's pushed filters take in the
    * [[graft.sources.GraftTableSource]] connector)? A dir is dropped iff
    * SOME constrained column's recorded stat rules it out; an
    * unconstrained or unstatted (dir, col) never drops a dir, so
    * skipping stays sound for ANY constraint maps. The range test is
    * the NEGATED-disjoint form `!(max < lo || min > hi)`: comparisons
    * against a NaN stat are false, so a NaN-polluted sidecar KEEPS its
    * dir (fresh stats never record NaN; this guards sidecars written by
    * older builds). Returns (kept dirs, dropped count). */
  def pruneSnapshot(root: String, s: Snapshot,
                    ranges: Map[String, (Double, Double)],
                    strRanges: Map[String, (String, Option[String])] = Map.empty,
                    points: Map[String, Seq[Any]] = Map.empty): (Seq[String], Int) = {
    if (ranges.isEmpty && strRanges.isEmpty && points.isEmpty) return (s.dirs, 0)
    val byDirCol = readStats(root, s.version)
      .map(st => (st.dir, st.col) -> st).toMap
    val strByDirCol = readStrStats(root, s.version)
      .map(st => (st.dir, st.col) -> st).toMap
    // Bloom filters load lazily, once per (dir, col) this prune touches
    val bloomCache = scala.collection.mutable.Map
      .empty[(String, String), Option[org.apache.spark.util.sketch.BloomFilter]]
    val kept = s.dirs.filter { d =>
      ranges.forall { case (c, (lo, hi)) =>
        byDirCol.get((d, c)).forall(st => !(st.max < lo || st.min > hi)) } &&
      // string ranges: hi = None is unbounded above ("" is already the
      // natural lower bound, no extra case needed); comparisons in
      // code-point order to match how the stats were aggregated
      strRanges.forall { case (c, (lo, hiOpt)) =>
        strByDirCol.get((d, c)).forall(st =>
          !(strCompare(st.max, lo) < 0 ||
            hiOpt.exists(hi => strCompare(st.min, hi) > 0))) } &&
      // point sets (EqualTo/In): a Bloom filter has no false negatives,
      // so "no candidate value might be contained" is a sound drop; a
      // dir without a filter is always kept; a candidate of a type the
      // builder doesn't hash exactly (anything but integrals/strings)
      // can't be ruled out and keeps the dir; a null candidate matches
      // no row and rules nothing in
      points.forall { case (c, vals) =>
        bloomCache.getOrElseUpdate((d, c), readBloom(root, d, c))
          .forall(bf => vals.exists(v =>
            v != null && (!bloomHashable(v) || bf.mightContain(v)))) }
    }
    (kept, s.dirs.length - kept.length)
  }

  /** The table's schema at `version`: the manifest's recorded DDL when
    * the contract is active (no file I/O beyond the manifest), else the
    * parquet footers of the snapshot's dirs (pre-contract tables). */
  def tableSchema(spark: SparkSession, root: String,
                  version: Long = -1L): org.apache.spark.sql.types.StructType = {
    val s = snapshot(root, version)
    if (s.schemaDdl.nonEmpty) org.apache.spark.sql.types.StructType.fromDDL(s.schemaDdl)
    else spark.read.parquet(s.dirs.map(d => s"$root/$d"): _*).schema
  }

  /** Declare (or re-declare) the table's data-skipping stats columns —
    * a metadata commit (action "setstats") that carries every current
    * entry forward BY REFERENCE, records `cols` in the manifest so
    * every subsequent commit computes fresh-dir min/max for them
    * (r16 verdict: ingest/merge commits used to write unstatted dirs,
    * so a standing upsert/CDC table was scan-unprunable between
    * compactions), and BACKFILLS stats for current dirs that lack them
    * (dirs are immutable, so a backfilled stat is exact forever). */
  def setStatsColumns(spark: SparkSession, root: String,
                      cols: Seq[String]): Long = {
    require(cols.nonEmpty, "declare at least one stats column")
    commitLoop(spark, root) { b =>
      val base = required(root, b)
      val have = (readStats(root, base.version).filter(s => cols.contains(s.col))
        .map(s => (s.dir, s.col)) ++
        readStrStats(root, base.version).filter(s => cols.contains(s.col))
          .map(s => (s.dir, s.col))).toSet
      val needing = base.dirs.filter(d => !cols.forall(c => have((d, c))))
      val (freshAll, freshStrAll) = dirStatsOf(spark, root, base, needing, cols)
      Proposal(next(b, "setstats", base.entries).copy(statsCols = cols),
        stats = freshAll.filterNot(s => have((s.dir, s.col))),
        strStats = freshStrAll.filterNot(s => have((s.dir, s.col))))
    }
  }

  /** Metadata-only schema evolution commit (action "evolve") — the
    * `ALTER TABLE ... ADD COLUMNS` primitive: record `newSchema` as the
    * table's contract while carrying every data dir, stat, bloom, and
    * txn-ledger entry by reference. Zero data bytes move: existing
    * part files simply lack the appended columns, and every read path
    * resolves under the manifest's recorded DDL, so parquet fills the
    * missing columns with NULL — which is why the appended columns
    * must be nullable (enforced by the caller; the format cannot
    * backfill a default into immutable dirs). `newSchema` must extend
    * the recorded schema: existing fields unchanged in name, order,
    * and type, new fields appended — anything else is refused loudly
    * (dropping/retyping columns would silently corrupt old-dir reads).
    * Time travel keeps working per version: a pre-evolve version reads
    * under its own recorded DDL. */
  def evolveSchema(spark: SparkSession, root: String,
                   newSchema: org.apache.spark.sql.types.StructType): Long = {
    val newDdl = org.apache.spark.sql.types.StructType(
      newSchema.fields.map(_.copy(nullable = true))).toDDL
    commitLoop(spark, root) { b =>
      val base = required(root, b)
      require(base.schemaDdl.nonEmpty,
        s"TxTable $root has no recorded schema contract — evolve rides " +
          "a write (append/refresh with evolve = true) on pre-contract tables")
      val cur = org.apache.spark.sql.types.StructType.fromDDL(base.schemaDdl)
      require(newSchema.fields.length >= cur.fields.length &&
        cur.fields.zip(newSchema.fields).forall { case (a, b) =>
          a.name == b.name && a.dataType == b.dataType },
        s"evolveSchema only APPENDS columns: table has [${base.schemaDdl}], " +
          s"requested [$newDdl] — existing fields must keep their name, " +
          "order, and type (drops/renames/retypes would corrupt old-dir reads)")
      if (newDdl == base.schemaDdl) NoOp(base.version)
      else Proposal(next(b, "evolve", base.entries).copy(schemaDdl = newDdl))
    }
  }

  /** Declare (or re-declare) the table's point-lookup Bloom columns — a
    * metadata commit (action "setbloom") that records `cols` in the
    * manifest so every subsequent commit builds per-dir Bloom filters
    * for them, and BACKFILLS filters for current dirs that lack one
    * (dirs are immutable, so a backfilled filter is exact forever).
    * Declare HASH-LIKE equality-queried keys here (content SHA, URL
    * hash, doc id) and range-queried columns in [[setStatsColumns]] —
    * the two stat families prune different predicate shapes. */
  def setBloomColumns(spark: SparkSession, root: String,
                      cols: Seq[String]): Long = {
    require(cols.nonEmpty, "declare at least one bloom column")
    commitLoop(spark, root) { b =>
      val base = required(root, b)
      buildBlooms(spark, root, base.dirs.filter(d =>
        !cols.forall(c => Files.exists(bloomFile(root, d, c)))), cols)
      Proposal(next(b, "setbloom", base.entries).copy(bloomCols = cols))
    }
  }

  /** Zero-copy table fork (Delta's SHALLOW CLONE, adapted to a
    * hard-link filesystem): `dst`'s version 0 lists its OWN data dirs
    * whose files are hard links to `src`'s — O(files) metadata moves,
    * zero data bytes, so forking a 100 TB corpus for an experiment
    * costs a directory walk. Links share inodes: a later [[vacuum]] on
    * either side unlinks only its own paths, and the shared bytes live
    * until BOTH sides drop them — the clone stays readable after the
    * source is vacuumed to nothing (spec-pinned). Schema, declared
    * stats/bloom columns, partition scoping, the stats sidecar, the
    * Bloom filter files and the indexes `version` selects (as the
    * clone's version-0 indexes) all carry (dirs are content-identical,
    * so the re-keyed stats stay exact); the txn ledger does NOT — a
    * clone is a new table and a replayed writer must not be suppressed
    * by the original's history. S3-class stores have no link(2); a
    * clone there must copy (or reference absolute URIs) — the same
    * documented caveat as the O_EXCL commit claim. Returns true iff
    * this call created the clone (fixed version-0 target, no retry —
    * losing means another creator established `dst`, exactly
    * [[migrate]]'s rule). */
  def cloneTable(spark: SparkSession, src: String, dst: String,
                 version: Long = -1L): Boolean = {
    val s = snapshot(src, version)
    if (exists(dst)) return false
    val mapped = s.entries.map { case (rel, part) =>
      val newRel = s"data/v0-${UUID.randomUUID().toString.take(8)}"
      val from = Paths.get(src, rel)
      val to = Paths.get(dst, newRel)
      Files.createDirectories(to)
      listDir(from).filter(Files.isRegularFile(_)).foreach { f =>
        Files.createLink(to.resolve(f.getFileName), f)
      }
      (rel, newRel, part)
    }
    val rekey = mapped.map(m => m._1 -> m._2).toMap
    val stats = readStats(src, s.version)
      .flatMap(st => rekey.get(st.dir).map(nd => st.copy(dir = nd)))
    val strStats = readStrStats(src, s.version)
      .flatMap(st => rekey.get(st.dir).map(nd => st.copy(dir = nd)))
    mapped.foreach { case (rel, newRel, _) =>
      s.bloomCols.foreach { c =>
        val bf = bloomFile(src, rel, c)
        if (Files.exists(bf)) {
          Files.createDirectories(bloomDirPath(dst))
          try Files.createLink(bloomFile(dst, newRel, c), bf)
          catch { case _: Exception => () } // advisory, like the build
        }
      }
    }
    val snap = Snapshot(0L, "clone", mapped.map(_._2), mapped.map(_._3),
      s.statsCols, s.schemaDdl, s.layout, s.bloomCols)
    val won = tryCommitAnchored(dst, snap, stats, strStats)
    if (!won) mapped.foreach(m => dropData(dst, m._2))
    // the selected indexes become the clone's version-0 indexes; only the
    // winner links them, so a loser never names a file of the winner's v0
    else indexesAt(src, s.version).foreach { case (kind, _, p) =>
      try {
        Files.createDirectories(indexDir(dst))
        Files.createLink(indexFile(dst, 0L, kind), p)
      } catch { case _: Exception => () } // advisory, like the blooms
    }
    won
  }

  /** Row-level DELETE of specific key values — the takedown-list
    * operation a training-data pipeline runs for content removal:
    * remove every row whose `column` is in `values`, rewriting ONLY
    * the dirs that might contain one (Bloom filters + range/string
    * stats prune the rest — on a bloom-indexed key the cost is
    * O(matching dirs), not O(table)); every other dir is carried into
    * the new manifest BY REFERENCE, zero bytes moved. A rewritten dir
    * that loses all its rows drops out of the manifest entirely.
    * History keeps pre-delete versions readable until [[vacuum]] —
    * actually-forgetting requires vacuuming past the delete, exactly
    * Delta's documented GDPR recipe. Returns the committed version
    * (a no-op delete — nothing matched — still commits, recording
    * that the delete ran). */
  def deleteKeys(spark: SparkSession, root: String, column: String,
                 values: Seq[Any]): Long = {
    require(values.nonEmpty, "deleteKeys needs at least one value")
    // a NULL takedown value matches no row, but its presence makes
    // isin() return NULL for every non-matching row — which the keep
    // filter would then DROP, deleting the whole candidate dir's
    // content (r17 reviewer). Reject it rather than silently ignore.
    require(values.forall(_ != null),
      "takedown values must be non-null — NULL matches no row and " +
        "poisons the membership predicate")
    val (ranges, strRanges) = valueSetSpans(column, values)
    deleteImpl(spark, root, "deleteKeys",
      prune = s => pruneSnapshot(root, s, ranges, strRanges,
        Map(column -> values))._1.toSet,
      // coalesce(…, false): a row whose membership test is NULL (e.g.
      // a NULL cell) is NOT a match and must be KEPT — bare !isin
      // propagates the NULL into filter(), which drops it
      keep = !org.apache.spark.sql.functions.coalesce(
        col(column).isin(values: _*), org.apache.spark.sql.functions.lit(false)))
  }

  /** The EXACT row predicate for `column` in [lo, hi], typed by the
    * table's recorded schema. The naive `try_cast("double")` form
    * rounds integral values at 2^53 — a BIGINT row at 2^53+1 casts to
    * 2^53 and would wrongly match `<= 2^53` (r19 reviewer) — so:
    * integral columns compare in LONG space (bounds tightened to the
    * enclosed integer range; every long compares exactly), decimal
    * columns in DECIMAL space (bounds snapped to the column's scale —
    * exact, since no column value can fall between scale steps; a
    * bound whose integer digits overflow the column's precision
    * resolves by sign to match-none/unbounded), float/double natively,
    * and any OTHER type keeps the try_cast fallback (non-castable
    * values are NULL = no match, the documented read-side semantics).
    * NULL cells never match in any branch. */
  private def rangeMatch(spark: SparkSession, root: String, column: String,
                         lo: Double, hi: Double): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    val fieldType = {
      val v = latestVersion(root)
      if (v < 0) None
      else tableSchema(spark, root, v).fields.find(_.name == column).map(_.dataType)
    }
    fieldType match {
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        // Long.MaxValue.toDouble is 2^63 (just above MaxValue) and
        // Long.MinValue.toDouble is −2^63 exactly, so: a lower bound at
        // or above 2^63 admits no long; an upper bound below −2^63
        // admits none; finite bounds strictly inside (−2^63, 2^63)
        // ceil/floor to longs without saturation (every exact double
        // there is ≤ 2^63 − 1024 in magnitude)
        if (lo >= Long.MaxValue.toDouble || hi < Long.MinValue.toDouble)
          lit(false)
        else {
          val loL = if (lo <= Long.MinValue.toDouble) Long.MinValue
                    else math.ceil(lo).toLong
          val hiL = if (hi >= Long.MaxValue.toDouble) Long.MaxValue
                    else math.floor(hi).toLong
          if (loL > hiL) lit(false)
          else col(column).between(lit(loL), lit(hiL))
        }
      case Some(dt: DecimalType) =>
        // exact decimal bound at the column's scale; CEILING/FLOOR keep
        // the admitted row set identical because column values are
        // multiples of the scale step
        def snapped(v: Double, mode: java.math.RoundingMode) =
          new java.math.BigDecimal(v).setScale(dt.scale, mode)
        val conj = Seq(
          Option(lo).filterNot(_.isNegInfinity).map { l =>
            val b = snapped(l, java.math.RoundingMode.CEILING)
            if (b.precision > dt.precision)
              if (b.signum > 0) lit(false) else col(column).isNotNull
            else col(column) >= lit(b)
          },
          Option(hi).filterNot(_.isPosInfinity).map { h =>
            val b = snapped(h, java.math.RoundingMode.FLOOR)
            if (b.precision > dt.precision)
              if (b.signum < 0) lit(false) else col(column).isNotNull
            else col(column) <= lit(b)
          }).flatten
        if (conj.isEmpty) col(column).isNotNull else conj.reduce(_ && _)
      case Some(FloatType | DoubleType) =>
        col(column).between(lit(lo), lit(hi))
      case _ =>
        col(column).try_cast("double").between(lit(lo), lit(hi))
    }
  }

  /** Row-level DELETE of a numeric range (`column` in [lo, hi]) —
    * range stats prune the rewrite set the same way they prune
    * connector reads; e.g. dropping a bad ingest day from a date-clustered
    * table rewrites O(that day's dirs). NULLs never match a range and
    * are kept. */
  def deleteRange(spark: SparkSession, root: String, column: String,
                  lo: Double, hi: Double): Long =
    deleteImpl(spark, root, "deleteRange",
      prune = s => pruneSnapshot(root, s, Map(column -> (lo, hi)))._1.toSet,
      // coalesce(…, false): a NULL comparison (NULL cell, or a value
      // the fallback double cast cannot represent) is NOT a match and
      // must be KEPT; the bare form propagated the NULL into filter()
      // and silently deleted every such row (r17 reviewer). The
      // predicate itself is type-exact — see [[rangeMatch]].
      keep = !org.apache.spark.sql.functions.coalesce(
        rangeMatch(spark, root, column, lo, hi),
        org.apache.spark.sql.functions.lit(false)))

  /** Row-level UPDATE of a key set (`column IN values` → apply `set`)
    * — the scoped-rewrite twin of [[deleteKeys]] (round 19, the SQL
    * UPDATE primitive): only dirs whose skipping stats admit the value
    * set are rewritten; within each, matching rows get the assignments
    * applied and every other row is carried verbatim. `set` values are
    * Columns over the table's own columns (arbitrary expressions —
    * `v -> concat(col("v"), lit("!"))`). The updated columns' stats
    * rebuild with the fresh dirs, so skipping stays exact. NULL cells
    * never match (same membership semantics as the delete family). */
  def updateKeys(spark: SparkSession, root: String, column: String,
                 values: Seq[Any],
                 set: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    require(values.nonEmpty, "updateKeys needs at least one value")
    require(values.forall(_ != null),
      "update key values must be non-null — NULL matches no row and " +
        "poisons the membership predicate")
    val (ranges, strRanges) = valueSetSpans(column, values)
    updateImpl(spark, root, "updateKeys",
      prune = s => pruneSnapshot(root, s, ranges, strRanges,
        Map(column -> values))._1.toSet,
      cond = org.apache.spark.sql.functions.coalesce(
        col(column).isin(values: _*), org.apache.spark.sql.functions.lit(false)),
      set)
  }

  /** Row-level UPDATE of a numeric range (`column` in [lo, hi] →
    * apply `set`) — the scoped-rewrite twin of [[deleteRange]]. */
  def updateRange(spark: SparkSession, root: String, column: String,
                  lo: Double, hi: Double,
                  set: Seq[(String, org.apache.spark.sql.Column)]): Long =
    updateImpl(spark, root, "updateRange",
      prune = s => pruneSnapshot(root, s, Map(column -> (lo, hi)))._1.toSet,
      cond = org.apache.spark.sql.functions.coalesce(
        rangeMatch(spark, root, column, lo, hi),
        org.apache.spark.sql.functions.lit(false)),
      set)

  /** The range-stat spans a DELETE/UPDATE key SET implies — statted
    * columns prune by the value set's span too, not just by bloom: an
    * undeclared-bloom column with range/string stats still bounds the
    * rewrite set. Only an ALL-numeric (resp. all-string) set yields a
    * span; mixed sets prune by bloom/membership alone. Shared by
    * [[deleteKeys]] and [[updateKeys]] so the span subtleties can
    * never diverge between the twins (r19 reviewer). Span rounding is
    * SOUND here (unlike the row predicates): doubleValue() is
    * monotone, and the scan-side stat comparison rounds the same way,
    * so a dir holding a match is never pruned — rounding can only
    * false-KEEP a dir whose exact rewrite then touches nothing. */
  private def valueSetSpans(column: String, values: Seq[Any])
      : (Map[String, (Double, Double)], Map[String, (String, Option[String])]) = {
    val nums = values.collect { case n: Number => n.doubleValue() }
    val strs = values.collect { case s: String => s }
    val ranges =
      if (nums.length == values.length) Map(column -> (nums.min, nums.max))
      else Map.empty[String, (Double, Double)]
    val strRanges =
      if (strs.length == values.length)
        Map(column -> (strs.min(strOrdering), Option(strs.max(strOrdering))))
      else Map.empty[String, (String, Option[String])]
    (ranges, strRanges)
  }

  /** The scoped rewrite behind the DELETE/UPDATE family: each candidate
    * dir (`prune`) is read under the TABLE schema, passed through the
    * per-dir `rewrite` (given that schema) and written fresh; every
    * other dir carries by reference. With `dropEmpty`, a rewritten dir
    * left with no rows drops out of the manifest. Reading under the
    * table schema matters: a dir written before an evolve commit
    * physically lacks the appended columns, and a raw read would fail
    * to resolve a predicate on one — under the recorded schema those
    * cells are NULL, which the row predicates correctly never match.
    * Fresh dirs get new names, so a rewritten dir's stale (dir, col)
    * stats can't leak. */
  private def rewriteDirs(spark: SparkSession, root: String, action: String,
                          prune: Snapshot => Set[String], dropEmpty: Boolean)(
      rewrite: org.apache.spark.sql.types.StructType => DataFrame => DataFrame): Long =
    commitLoop(spark, root) { b =>
      val base = required(root, b)
      val schema = tableSchema(spark, root, base.version)
      val f = rewrite(schema)
      val candidates = prune(base)
      val rewritten: Seq[(String, Option[(Written, String)])] =
        base.entries.filter(e => candidates(e._1)).map { case (dir, part) =>
          // one scan per candidate: rewrite+write in a single pass, whose
          // observed row count decides fully-deleted
          val w = writeData(root, base.version + 1,
            f(spark.read.schema(schema).parquet(s"$root/$dir")), base.statsCols)
          if (dropEmpty && w.rows == 0L) {
            dropData(root, w.rel)
            (dir, None)
          } else (dir, Some((w, part)))
        }
      val replacement = rewritten.toMap
      val entries = base.entries.flatMap(e =>
        replacement.get(e._1).fold(Option(e))(_.map { case (w, p) => w.rel -> p }))
      Proposal(next(b, action, entries), rewritten.flatMap(_._2).map(_._1))
    }

  /** UPDATE: candidate dirs rewrite every row through `CASE WHEN cond
    * THEN assignment ELSE old END` per updated column (schema unchanged
    * — assignments cast to the column's existing type). */
  private def updateImpl(spark: SparkSession, root: String, action: String,
                         prune: Snapshot => Set[String],
                         cond: org.apache.spark.sql.Column,
                         set: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    require(set.nonEmpty, "update needs at least one assignment")
    val setMap = set.toMap
    rewriteDirs(spark, root, action, prune, dropEmpty = false) { schema =>
      val unknown = set.map(_._1).filterNot(schema.fieldNames.contains)
      require(unknown.isEmpty,
        s"update assigns unknown column(s): ${unknown.mkString(", ")}")
      _.select(schema.fields.toIndexedSeq.map { f =>
        setMap.get(f.name) match {
          case Some(expr) => org.apache.spark.sql.functions
            .when(cond, expr.cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    }
  }

  private def deleteImpl(spark: SparkSession, root: String, action: String,
                         prune: Snapshot => Set[String],
                         keep: org.apache.spark.sql.Column): Long =
    rewriteDirs(spark, root, action, prune, dropEmpty = true)(_ => _.filter(keep))

  /** The recorded data-skipping state at `version` as a frame — one
    * row per (dir, stat): numeric and string min/max plus whether a
    * Bloom filter is published for each declared bloom column. The
    * observability twin of [[history]]: "why didn't my predicate
    * prune?" is answered by looking at exactly this. */
  def statsOf(spark: SparkSession, root: String,
              version: Long = -1L): DataFrame = {
    val s = snapshot(root, version)
    val num = readStats(root, s.version)
      .map(st => (st.dir, st.col, "range", st.min.toString, st.max.toString))
    val str = readStrStats(root, s.version)
      .map(st => (st.dir, st.col, "str_range", st.min, st.max))
    val blooms = for {
      d <- s.dirs; c <- s.bloomCols
      if Files.exists(bloomFile(root, d, c))
    } yield (d, c, "bloom", "", "")
    import spark.implicits._
    (num ++ str ++ blooms).toDF("dir", "col", "kind", "min", "max")
  }

  /** The table's commit history, newest first (Delta's DESCRIBE
    * HISTORY analogue): one row per still-retained version with its
    * action, entry/partition counts, dirs added vs the predecessor
    * (the streaming tail's per-version emission; for the OLDEST
    * retained version after a vacuum the predecessor is gone, so the
    * full snapshot counts as added — the same bootstrap semantics the
    * streaming tail uses), and the manifest's mtime as the commit
    * wall-clock. Vacuumed versions are absent — history is exactly
    * what time travel can still read. One manifest read per retained
    * version (the predecessor's dir set is carried across the loop). */
  def history(spark: SparkSession, root: String,
              version: Long = -1L): DataFrame = {
    val latest = if (version >= 0) version else latestVersion(root)
    require(latest >= 0, s"TxTable at $root has no committed version")
    var prev = Set.empty[String]
    val rows = (0L to latest).flatMap { v =>
      val p = manifest(root, v)
      if (!Files.exists(p)) { prev = Set.empty; None }
      else {
        val s = parse(Files.readString(p))
        val added = s.dirs.count(d => !prev(d))
        val parts = s.entries.map(_._2).filter(_.nonEmpty).distinct.length
        prev = s.dirs.toSet
        Some((v, s.action, s.dirs.length, added, parts,
          new java.sql.Timestamp(Files.getLastModifiedTime(p).toMillis)))
      }
    }.reverse
    import spark.implicits._
    rows.toDF("version", "action", "dirs", "dirs_added", "partitions", "committed_at")
  }

  /** Default in-flight-writer grace for [[vacuum]]: an unreferenced data
    * dir younger than this is assumed to belong to a concurrent commit
    * between its writeData and tryCommit and is NOT deleted. */
  val DefaultVacuumGraceMs: Long = 10L * 60 * 1000

  /** Destructive retention: drop manifests below `keepFrom`, then delete
    * data dirs referenced by no surviving manifest. Explicitly separate
    * from commits (Delta's VACUUM split): time travel works until the
    * operator chooses to forget.
    *
    * Ordering + safety (round-15; r14 advisor findings):
    *  - manifests are deleted FIRST, so a reader that has not yet
    *    resolved a vacuumed version fails cleanly at [[snapshot]]
    *    (version-not-committed) instead of resolving a manifest whose
    *    data is mid-deletion; a reader that already resolved one fails
    *    at scan when files disappear. As in Delta, the operational
    *    contract is that `keepFrom` trails the oldest version any
    *    reader still uses (retention), vacuum cannot make that true by
    *    itself;
    *  - unreferenced data dirs YOUNGER than `graceMs` survive: a
    *    concurrent writer creates its data dir BEFORE racing for the
    *    commit, so without the grace window vacuum could delete a dir
    *    an about-to-win commit references — a torn latest version (the
    *    advisor's race; Delta guards the same window with its retention
    *    period). Pass graceMs = 0 only when no writer can be in flight.
    * Index sidecars go too once no retained version selects them: per
    * kind, the one `keepFrom` selects and every newer one stay. They go
    * first, while the manifests that place a refresh are still there
    * (see [[indexesAt]]). */
  def vacuum(root: String, keepFrom: Long,
             graceMs: Long = DefaultVacuumGraceMs): Unit = {
    val latest = latestVersion(root)
    require(keepFrom <= latest, s"keepFrom $keepFrom beyond latest $latest")
    val keep = (keepFrom to latest).filter(v => Files.exists(manifest(root, v)))
      .flatMap(v => snapshot(root, v).dirs).toSet
    // an index no retained version selects: at or before keepFrom, and
    // not the one keepFrom selects
    val selected = indexesAt(root, keepFrom).map(i => i._1 -> i._2).toMap
    indexes(root).filter { case (kind, v, _) => v <= keepFrom && !selected.get(kind).contains(v) }
      .foreach(i => Files.deleteIfExists(i._3))
    (0L until keepFrom).foreach { v =>
      Files.deleteIfExists(manifest(root, v))
      Files.deleteIfExists(statsFile(root, v))
    }
    val horizon = System.currentTimeMillis() - graceMs
    listDir(Paths.get(root, "data"))
      .filter(p => Files.getLastModifiedTime(p).toMillis < horizon)
      .map(p => s"data/${p.getFileName}")
      .filterNot(keep)
      .foreach(dropData(root, _))
  }

  // --- tiny hand-rolled JSON (no new dependencies; the manifest
  // grammar is flat: version, action, dirs, parts) ---
  private def render(s: Snapshot): String = {
    val q = qs _ // the one shared JSON string escape (stats sidecar too)
    val parts =
      if (s.parts.isEmpty || s.parts.forall(_.isEmpty)) ""
      else s""","parts":[${s.parts.map(q).mkString(",")}]"""
    val statsCols =
      if (s.statsCols.isEmpty) ""
      else s""","statsCols":[${s.statsCols.map(q).mkString(",")}]"""
    val schema = if (s.schemaDdl.isEmpty) "" else s""","schema":${q(s.schemaDdl)}"""
    val layout = if (s.layout.isEmpty) "" else s""","layout":${q(s.layout)}"""
    val bloomCols =
      if (s.bloomCols.isEmpty) ""
      else s""","bloomCols":[${s.bloomCols.map(q).mkString(",")}]"""
    val txns =
      if (s.txnApps.isEmpty) ""
      else s""","txnApps":[${s.txnApps.map(q).mkString(",")}]""" +
        s""","txnIds":[${s.txnIds.mkString(",")}]"""
    s"""{"version":${s.version},"action":${q(s.action)},"dirs":[${s.dirs.map(q).mkString(",")}]$parts$statsCols$schema$layout$bloomCols$txns}"""
  }

  /** Linear manifest scan — the hot resolution path. Same results as
    * [[parseRegex]] (spec-pinned equal on adversarial round-trips),
    * ~30× cheaper on a 100k-dir manifest (the regex stack measured
    * 0.89 s per resolve there, `scale_artifacts/probe_txmanifest_r18.jsonl`
    * — paid by every read and every optimistic-loop iteration of a
    * standing pipeline). Strategy mirrors the regex semantics: each field is
    * located by its FIRST `"fld":` occurrence; list bodies end at the
    * first `]` (the write-time encoding constraint guarantees no value
    * contains one); quoted values unescape via [[scanQuoted]]. */
  private def parse(body: String): Snapshot = parseFast(body)

  private[graft] def parseFast(body: String): Snapshot = {
    def keyIdx(fld: String): Int = body.indexOf("\"" + fld + "\":")
    def afterKey(fld: String): Int = {
      val i = keyIdx(fld)
      if (i < 0) -1 else i + fld.length + 3
    }
    val vIdx = afterKey("version")
    if (vIdx < 0) sys.error(s"bad manifest: $body")
    var vEnd = vIdx
    while (vEnd < body.length && body.charAt(vEnd).isDigit) vEnd += 1
    if (vEnd == vIdx) sys.error(s"bad manifest: $body")
    val version = body.substring(vIdx, vEnd).toLong
    def strFld(fld: String, default: String): String = {
      val i = afterKey(fld)
      if (i < 0 || i >= body.length || body.charAt(i) != '"') default
      else scanQuoted(body, i)._1
    }
    def listBody(fld: String): String = {
      val i = afterKey(fld)
      if (i < 0 || i >= body.length || body.charAt(i) != '[') ""
      else {
        val end = body.indexOf(']', i)
        if (end < 0) "" else body.substring(i + 1, end)
      }
    }
    def strList(fld: String): Seq[String] = {
      val lb = listBody(fld)
      val out = Seq.newBuilder[String]
      var i = lb.indexOf('"')
      while (i >= 0) {
        val (v, next) = scanQuoted(lb, i)
        out += v
        i = lb.indexOf('"', next)
      }
      out.result()
    }
    def numList(fld: String): Seq[Long] = {
      val lb = listBody(fld)
      if (lb.isEmpty) Nil
      else lb.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map(_.toLong)
    }
    Snapshot(version, strFld("action", "unknown"), strList("dirs"),
      strList("parts"), strList("statsCols"), strFld("schema", ""),
      strFld("layout", ""), strList("bloomCols"),
      strList("txnApps"), numList("txnIds"))
  }

  /** The historical regex parser, kept as the equality oracle for
    * [[parseFast]] (TxTableSpec round-trips every field shape through
    * both). */
  private[graft] def parseRegex(body: String): Snapshot = {
    val version = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(body)
      .map(_.group(1).toLong).getOrElse(sys.error(s"bad manifest: $body"))
    def strFld(fld: String, default: String): String =
      ("\"" + fld + """"\s*:\s*"((?:[^"\\]|\\.)*)"""").r.findFirstMatchIn(body)
        .map(m => unq(m.group(1)))
        .getOrElse(default)
    def strList(fld: String): Seq[String] = {
      val listBody = ("\"" + fld + """"\s*:\s*\[([^\]]*)\]""").r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse("")
      """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(listBody)
        .map(m => unq(m.group(1))).toSeq
    }
    def numList(fld: String): Seq[Long] = {
      val listBody = ("\"" + fld + """"\s*:\s*\[([^\]]*)\]""").r.findFirstMatchIn(body)
        .map(_.group(1)).getOrElse("")
      """-?\d+""".r.findAllIn(listBody).map(_.toLong).toSeq
    }
    Snapshot(version, strFld("action", "unknown"), strList("dirs"),
      strList("parts"), strList("statsCols"), strFld("schema", ""),
      strFld("layout", ""), strList("bloomCols"),
      strList("txnApps"), numList("txnIds"))
  }

  /** Exposed for TxTableSpec's parser-equality round-trips. */
  private[graft] def renderForTest(s: Snapshot): String = render(s)
  private[graft] def renderStatsForTest(v: Long, stats: Seq[DirStat],
                                      strStats: Seq[DirStrStat]): String =
    renderStats(v, stats, strStats)
}
