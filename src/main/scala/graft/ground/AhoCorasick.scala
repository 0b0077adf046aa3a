package graft.ground

import scala.collection.mutable

/**
 * Aho–Corasick multi-pattern matcher over normalized text, used for batched
 * dictionary mention detection per transcript turn (SURVEY G4 / north_star
 * "dictionary/trie-based batched mention detection per turn").
 *
 * Built once on the driver from the lexicon (ssslm.make_grounder analogue,
 * reference contract at ner.py:47-64), broadcast, and run inside
 * `mapPartitions` so the automaton is per-partition state, not per-row.
 *
 * Matching semantics (gilda-family, documented in SURVEY F5):
 *  - patterns are matched on casefolded, whitespace-folded text;
 *  - only matches at word boundaries count (a non-letter/digit on both sides);
 *  - overlapping matches of DIFFERENT patterns are all emitted; the
 *    scoring/top-1 window downstream resolves them.
 *
 * Construction is the textbook BFS failure-link build; lookup is O(|text| +
 * #matches). The compiled automaton is CSR-FLAT — per-node primitive arrays,
 * zero per-node objects — and its transitions are constant-time:
 *  - every character of the lexicon's alphabet gets a class id (`charClass`):
 *    the 63 that label the most trie edges a bit of their own, every other
 *    one the shared RARE bit 63;
 *  - nodes are numbered in BFS order with each node's children enqueued in
 *    class order, so the children of node s are the consecutive ids
 *    base(s)+1 .. base(s+1) and no target array is needed;
 *  - each node stores a 64-bit `childMask` of the classes it has children
 *    for, so a child is one bit test and one `Long.bitCount` rank past
 *    `base(s)`;
 *  - a node's rare children are its last ids, sorted by char and searched
 *    through `tailChars` (empty when the alphabet fits in 63 bits);
 *  - a character outside the alphabet (no class) resets to the root without
 *    walking failure links — no node has a child for it.
 * A Bioregistry-scale automaton (10^5-10^6 patterns) compacts to tens of MB,
 * so at 32 scan threads the hot states live in the shared LLC instead of a
 * million pointer-chased heap arrays in DRAM — this is what the 10^12-turn
 * scan is bound by (BASELINE.md). Immutable after `build` and Serializable
 * (primitive arrays only) so broadcasting is cheap.
 */
final class AhoCorasick private (
    charClass: Array[Byte],    // char → class id (0..62 own bit, 63 rare, -1 outside the alphabet)
    base: Array[Int],          // node s's children are nodes base(s)+1 .. base(s+1) (len nNodes+1)
    childMask: Array[Long],    // node → bitmap of the classes it has children for
    tailChars: Array[Char],    // node v → the rare char of its incoming edge, at v-1
    fail: Array[Int],
    outOff: Array[Int],        // node → offset into outPids (len nNodes+1)
    outPids: Array[Int],       // pattern ids ending at the node (output links merged)
    patLen: Array[Int],        // pattern lengths (avoids String deref in the hot loop)
    val patterns: Array[String]) extends Serializable {
  import AhoCorasick.{RareClass, isWordChar}

  @inline private def lookup(s: Int, c: Char, cls: Int): Int = {
    val m = childMask(s)
    if (cls != RareClass) {
      val bit = 1L << cls
      if ((m & bit) == 0L) -1 else base(s) + 1 + java.lang.Long.bitCount(m & (bit - 1L))
    } else if (m >= 0L) -1 // the rare bit is the sign bit
    else {
      var lo = base(s) + java.lang.Long.bitCount(m) // first rare child
      var hi = base(s + 1)
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val mc = tailChars(mid - 1)
        if (mc == c) return mid
        else if (mc < c) lo = mid + 1
        else hi = mid - 1
      }
      -1
    }
  }

  @inline private def step(state: Int, c: Char): Int = {
    val cls = if (c < charClass.length) charClass(c) else -1
    if (cls < 0) return 0
    var s = state
    while (true) {
      val nxt = lookup(s, c, cls)
      if (nxt >= 0) return nxt
      if (s == 0) return 0
      s = fail(s)
    }
    0
  }

  /** Allocation-free scan: invokes `f(start, endExclusive, patternId)` per match. */
  def findAllInto(text: String, f: (Int, Int, Int) => Unit): Unit = {
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      state = step(state, text.charAt(i))
      var j = outOff(state)
      val jEnd = outOff(state + 1)
      if (j < jEnd) {
        val boundaryRight = i + 1 == n || !isWordChar(text.charAt(i + 1))
        if (boundaryRight) {
          while (j < jEnd) {
            val pid = outPids(j)
            val start = i + 1 - patLen(pid)
            if (start == 0 || !isWordChar(text.charAt(start - 1))) f(start, i + 1, pid)
            j += 1
          }
        }
      }
      i += 1
    }
  }

  /** Find all word-boundary matches. Returns (start, end-exclusive, patternId). */
  def findAll(text: String): IndexedSeq[(Int, Int, Int)] = {
    val res = new mutable.ArrayBuffer[(Int, Int, Int)]
    findAllInto(text, (s, e, p) => res += ((s, e, p)))
    res.toIndexedSeq
  }

  /** Longest pattern, in chars (bounds the left-boundary look-back). */
  val maxPatternLen: Int = if (patterns.isEmpty) 1 else patterns.map(_.length).max

  /** Ring-buffer size for [[Scanner]] scratch (power of two > maxPatternLen+1). */
  val scanRingSize: Int = Integer.highestOneBit(math.max(maxPatternLen + 2, 8)) * 2

  /**
   * Per-task fused normalize+scan kernel over raw UTF-8 bytes — semantically
   * identical to `findAllInto(AhoCorasick.normalize(text), f)` (match
   * coordinates are in normalized space) but with ZERO per-turn allocation:
   * no java.lang.String, no StringBuilder, no normalized copy. This is the
   * 10^12-turn hot loop — at 32 threads the per-turn char[] churn of the
   * materializing path is an allocation/GC wall (BASELINE.md round 2).
   *
   * The byte stream is decoded to UTF-16 units incrementally (property-tested
   * equivalent to String.charAt order, incl. surrogate pairs), each unit runs
   * through the same per-unit casefold/separator-fold as [[normalize]], and a
   * one-unit lookahead resolves the right word boundary while a small ring
   * buffer resolves the left one. A class with fields (not a nested def) so
   * the state lives unboxed — scalac would box captured vars into IntRefs.
   *
   * NOT thread-safe: allocate one per task (e.g. per mapPartitions iterator).
   */
  final class Scanner {
    private val ring = new Array[Char](scanRingSize)
    private val ringMask = ring.length - 1
    private var s: org.apache.spark.unsafe.types.UTF8String = _
    private var nBytes = 0
    private var j = 0            // byte cursor
    private var pend1 = -1       // pending units (deferred space / surrogate low)
    private var pend2 = -1
    private var pendingSpace = false
    private var produced = false
    private var low = -1         // low surrogate of the last decoded code point, else -1

    // next normalized UTF-16 unit, or -1 at end — streaming equivalent of
    // normalize(): per-unit fold (lowercase, separators to ' '), [-_\s]+ runs
    // fold to one ' ', leading and trailing runs dropped (the deferred-space
    // trick). An ASCII byte is one fold-table load; multi-byte sequences go
    // to the out-of-line decoder, which keeps this loop small enough to inline.
    private def nextNorm(): Int = {
      if (pend1 >= 0) { val r = pend1; pend1 = pend2; pend2 = -1; return r }
      while (j < nBytes) {
        val b0 = s.getByte(j)
        low = -1
        val c = if (b0 >= 0) { j += 1; AhoCorasick.AsciiFold(b0) } else decodeMultiByte(b0 & 0xFF)
        if (c == ' ') {
          pendingSpace = true // (separators are BMP; low is always -1 here)
        } else {
          if (pendingSpace && produced) {
            pendingSpace = false
            pend1 = c; pend2 = low
            return ' '
          }
          pendingSpace = false; produced = true
          if (low >= 0) pend1 = low
          return c
        }
      }
      -1
    }

    // folded unit of the sequence led by b0 >= 0x80 (a supplementary code
    // point yields its high surrogate and sets `low`). A sequence truncated
    // at the buffer end degrades to U+FFFD (like java.lang.String's decoder)
    // instead of reading past numBytes into adjacent row memory — Spark-
    // written data is always valid UTF-8, but the kernel must never depend on that
    private def decodeMultiByte(b0: Int): Char = {
      var u = 0
      if (b0 < 0xE0) { // 2-byte sequence
        if (j + 1 < nBytes) { u = ((b0 & 0x1F) << 6) | (s.getByte(j + 1) & 0x3F); j += 2 }
        else { u = 0xFFFD; j = nBytes }
      } else if (b0 < 0xF0) { // 3-byte sequence
        if (j + 2 < nBytes) {
          u = ((b0 & 0x0F) << 12) | ((s.getByte(j + 1) & 0x3F) << 6) |
            (s.getByte(j + 2) & 0x3F); j += 3
        } else { u = 0xFFFD; j = nBytes }
      } else { // 4-byte sequence → surrogate pair
        if (j + 3 < nBytes) {
          val cp = ((b0 & 0x07) << 18) | ((s.getByte(j + 1) & 0x3F) << 12) |
            ((s.getByte(j + 2) & 0x3F) << 6) | (s.getByte(j + 3) & 0x3F)
          j += 4
          u = 0xD800 + ((cp - 0x10000) >> 10)
          low = 0xDC00 + ((cp - 0x10000) & 0x3FF)
        } else { u = 0xFFFD; j = nBytes }
      }
      AhoCorasick.foldUnit(u.toChar)
    }

    /** f(start, endExclusive, patternId), coordinates in normalized space. */
    def scan(text: org.apache.spark.unsafe.types.UTF8String, f: (Int, Int, Int) => Unit): Unit = {
      s = text; nBytes = text.numBytes; j = 0
      pend1 = -1; pend2 = -1; pendingSpace = false; produced = false
      var state = 0
      var i = 0 // normalized-space index of `cur`
      var cur = nextNorm()
      while (cur >= 0) {
        val la = nextNorm() // lookahead resolves the right boundary at emission
        val c = cur.toChar
        ring(i & ringMask) = c
        state = step(state, c)
        var k = outOff(state)
        val kEnd = outOff(state + 1)
        if (k < kEnd && (la < 0 || !isWordChar(la.toChar))) {
          while (k < kEnd) {
            val pid = outPids(k)
            val start = i + 1 - patLen(pid)
            if (start == 0 || !isWordChar(ring((start - 1) & ringMask))) f(start, i + 1, pid)
            k += 1
          }
        }
        i += 1
        cur = la
      }
      s = null
    }
  }

  def newScanner(): Scanner = new Scanner
}

object AhoCorasick {

  /** Class id of the characters that share the rare bit (bit 63, the sign bit). */
  private val RareClass = 63

  /**
   * Per-unit fold of the ASCII range: separators (`Character.isWhitespace`,
   * '-', '_') to ' ', every other unit to `Character.toLowerCase`. Derived
   * from `Character.*` at class init, never written out by hand.
   */
  private[graft] val AsciiFold: Array[Char] = Array.tabulate(128) { i =>
    val c = i.toChar
    if (Character.isWhitespace(c) || c == '-' || c == '_') ' ' else Character.toLowerCase(c)
  }

  /** `Character.isLetterOrDigit` over the ASCII range, derived at class init. */
  private[graft] val AsciiWord: Array[Boolean] =
    Array.tabulate(128)(i => Character.isLetterOrDigit(i.toChar))

  /**
   * One UTF-16 unit of [[normalize]]: ' ' for a separator, else the
   * lowercased unit. No non-separator lowercases to ' ', so ' ' marks the
   * separators. The only separators outside ASCII are whitespace.
   */
  @inline private[ground] def foldUnit(c: Char): Char =
    if (c < 128) AsciiFold(c)
    else if (Character.isWhitespace(c)) ' '
    else Character.toLowerCase(c)

  /** Word character for the boundary rule — judged per UTF-16 unit. */
  @inline private def isWordChar(c: Char): Boolean =
    if (c < 128) AsciiWord(c) else Character.isLetterOrDigit(c)

  /** Casefold + collapse whitespace/dash runs to single spaces (F5 normalization). */
  def normalize(s: String): String = {
    if (s == null) return ""
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var lastSpace = true // also trims leading separators
    while (i < s.length) {
      val c = foldUnit(s.charAt(i))
      if (c == ' ') {
        if (!lastSpace) { sb.append(' '); lastSpace = true }
      } else {
        sb.append(c); lastSpace = false
      }
      i += 1
    }
    // trim trailing space
    val len = sb.length()
    if (len > 0 && sb.charAt(len - 1) == ' ') sb.setLength(len - 1)
    sb.toString
  }

  /**
   * The trie under construction, in primitive arrays: node v ≥ 1 hangs off
   * `parent(v)` by the edge labelled `label(v)` (each node but the root is
   * made by exactly one edge), and an open-addressing table keyed by
   * (node, char) finds a node's child — no per-node map, no boxed keys.
   */
  private final class TrieBuilder {
    var size = 1                       // nodes, the root included
    var parent = new Array[Int](64)
    var label = new Array[Char](64)
    private var keys = new Array[Long](128) // ((node << 16) | char) + 1; 0 = empty slot
    private var vals = new Array[Int](128)

    @inline private def slot(key: Long, mask: Int): Int =
      ((key * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask

    /** The child of `u` by `c`, or -1. */
    def child(u: Int, c: Char): Int = {
      val key = ((u.toLong << 16) | c) + 1
      val mask = keys.length - 1
      var i = slot(key, mask)
      while (keys(i) != 0L) {
        if (keys(i) == key) return vals(i)
        i = (i + 1) & mask
      }
      -1
    }

    /** A new child of `u` by `c` (which `u` must not have yet). */
    def addChild(u: Int, c: Char): Int = {
      val v = size
      if (v == parent.length) {
        parent = java.util.Arrays.copyOf(parent, 2 * v)
        label = java.util.Arrays.copyOf(label, 2 * v)
      }
      parent(v) = u; label(v) = c
      size += 1
      if (2 * size > keys.length) { // load ≤ 1/2: rebuild twice as large
        keys = new Array[Long](2 * keys.length)
        vals = new Array[Int](keys.length)
        var w = 1
        while (w < v) { put(parent(w), label(w), w); w += 1 }
      }
      put(u, c, v)
      v
    }

    private def put(u: Int, c: Char, v: Int): Unit = {
      val key = ((u.toLong << 16) | c) + 1
      val mask = keys.length - 1
      var i = slot(key, mask)
      while (keys(i) != 0L) i = (i + 1) & mask
      keys(i) = key; vals(i) = v
    }
  }

  def build(rawPatterns: Seq[String]): AhoCorasick = {
    val patterns = rawPatterns.toArray
    val trie = new TrieBuilder

    // trie insert, counting the edges each character labels
    val edgeCounts = new Array[Int](Char.MaxValue + 1)
    val endNode = new Array[Int](patterns.length)
    var pid = 0
    while (pid < patterns.length) {
      val p = patterns(pid)
      var node = 0
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        val nxt = trie.child(node, c)
        if (nxt < 0) {
          edgeCounts(c) += 1
          node = trie.addChild(node, c)
        } else node = nxt
        i += 1
      }
      endNode(pid) = node
      pid += 1
    }
    val n = trie.size
    val (parent, label) = (trie.parent, trie.label)

    // character classes: the 63 characters labelling the most edges get a
    // bit each (ties by char, so the layout is deterministic), every other
    // character of the alphabet the rare bit
    val alphabet = new mutable.ArrayBuffer[Int]
    var ch = 0
    while (ch <= Char.MaxValue) { if (edgeCounts(ch) > 0) alphabet += ch; ch += 1 }
    val byFreq = alphabet.sortBy(c => (-edgeCounts(c), c))
    val charClass = Array.fill[Byte](if (byFreq.isEmpty) 0 else byFreq.max + 1)(-1)
    byFreq.iterator.zipWithIndex.foreach { case (c, rank) => charClass(c) = math.min(rank, RareClass).toByte }

    // each node's children (kidStart(u) until kidStart(u + 1) in `kidsOf`)
    // and its own patterns (ownStart(u) until ownStart(u + 1) in `ownPids`,
    // in pattern order; the empty pattern ends at the root and matches nothing)
    val kidStart = new Array[Int](n + 1)
    var v = 1
    while (v < n) { kidStart(parent(v) + 1) += 1; v += 1 }
    var u = 0
    while (u < n) { kidStart(u + 1) += kidStart(u); u += 1 }
    val kidsOf = new Array[Int](math.max(n - 1, 0))
    val kidFill = java.util.Arrays.copyOf(kidStart, n)
    v = 1
    while (v < n) { kidsOf(kidFill(parent(v))) = v; kidFill(parent(v)) += 1; v += 1 }
    val ownStart = new Array[Int](n + 1)
    pid = 0
    while (pid < patterns.length) { if (endNode(pid) > 0) ownStart(endNode(pid) + 1) += 1; pid += 1 }
    u = 0
    while (u < n) { ownStart(u + 1) += ownStart(u); u += 1 }
    val ownPids = new Array[Int](ownStart(n))
    val ownFill = java.util.Arrays.copyOf(ownStart, n)
    pid = 0
    while (pid < patterns.length) {
      val e = endNode(pid)
      if (e > 0) { ownPids(ownFill(e)) = pid; ownFill(e) += 1 }
      pid += 1
    }

    // one BFS numbers the nodes, resolves failure links, counts the merged
    // outputs (a node's own patterns, then its failure node's outputs) and
    // fills the per-id arrays. Each node's children are enqueued in
    // (class, char) order, so they get consecutive ids in exactly the order
    // the bitmap rank (and the rare tail's binary search) assumes.
    val order = new Array[Int](n)     // id → trie node; doubles as the BFS queue
    val id = new Array[Int](n)        // trie node → id
    val failNode = new Array[Int](n)  // trie node → failure trie node
    val outCount = new Array[Int](n)  // trie node → merged output count
    val base = new Array[Int](n + 1)
    val childMask = new Array[Long](n)
    val fail = new Array[Int](n)
    val outOff = new Array[Int](n + 1)
    val tailChars = new Array[Char](if (byFreq.length > RareClass) n - 1 else 0)
    var kids = new Array[Long](16)    // per child: ((class << 16 | char) << 32) | trie node
    var s = 0
    var next = 1
    while (s < next) {
      u = order(s)
      val deg = kidStart(u + 1) - kidStart(u)
      if (deg > kids.length) kids = new Array[Long](math.max(deg, 2 * kids.length))
      var k = 0
      while (k < deg) {
        val w = kidsOf(kidStart(u) + k)
        val c = label(w)
        kids(k) = (((charClass(c).toLong << 16) | c) << 32) | w
        k += 1
      }
      java.util.Arrays.sort(kids, 0, deg)
      base(s + 1) = base(s) + deg
      fail(s) = id(failNode(u))
      outOff(s + 1) = outOff(s) + outCount(u)
      k = 0
      while (k < deg) {
        val cls = (kids(k) >>> 48).toInt
        val c = (kids(k) >>> 32).toChar
        v = kids(k).toInt
        childMask(s) |= 1L << cls
        if (cls == RareClass) tailChars(next - 1) = c
        // failure state for v: deepest proper suffix state with a c-edge
        var f = failNode(u)
        var resolved = -1
        while (resolved < 0) {
          val nxt = trie.child(f, c)
          if (nxt >= 0 && nxt != v) resolved = nxt
          else if (f == 0) resolved = 0
          else f = failNode(f)
        }
        failNode(v) = resolved
        outCount(v) = ownStart(v + 1) - ownStart(v) + outCount(resolved)
        order(next) = v; id(v) = next; next += 1
        k += 1
      }
      s += 1
    }
    // a node's outputs: its own patterns, then a copy of its failure node's
    // (which sits at a smaller id, so it is already filled)
    val outPids = new Array[Int](outOff(n))
    s = 0
    while (s < n) {
      u = order(s)
      val own = ownStart(u + 1) - ownStart(u)
      System.arraycopy(ownPids, ownStart(u), outPids, outOff(s), own)
      System.arraycopy(outPids, outOff(fail(s)), outPids, outOff(s) + own, outCount(failNode(u)))
      s += 1
    }
    val patLen = patterns.map(_.length)

    new AhoCorasick(charClass, base, childMask, tailChars, fail,
      outOff, outPids, patLen, patterns)
  }
}
