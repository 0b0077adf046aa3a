package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ground.AhoCorasick

class AhoCorasickSpec extends AnyFunSuite {

  test("normalize: casefold + whitespace/dash/underscore folding (F5)") {
    assert(AhoCorasick.normalize("Hash  Join") == "hash join")
    assert(AhoCorasick.normalize("hash-join") == "hash join")
    assert(AhoCorasick.normalize("  Hash_JOIN  ") == "hash join")
    assert(AhoCorasick.normalize(null) == "")
  }

  test("single pattern, multiple occurrences") {
    val ac = AhoCorasick.build(Seq("join"))
    val m = ac.findAll("join the join club join")
    assert(m.map(x => (x._1, x._2)) == Seq((0, 4), (9, 13), (19, 23)))
  }

  test("word boundaries: no substring-inside-word matches") {
    val ac = AhoCorasick.build(Seq("join", "sort"))
    assert(ac.findAll("joining resorts").isEmpty)
    assert(ac.findAll("join, sort!").size == 2)
    assert(ac.findAll("rejoin").isEmpty)
  }

  test("astral-plane boundary golden: supplementary letters do NOT block a match (per-UTF-16-unit semantics)") {
    // DOCUMENTED ENGINE SEMANTICS (SparkEntry q_pipeline_triples oracle note):
    // word boundaries are judged per UTF-16 UNIT via Character.isLetterOrDigit
    // (Char). A supplementary-plane letter like 𝕏 (U+1D54F, MATHEMATICAL
    // DOUBLE-STRUCK CAPITAL X) is two surrogate units, each of category Cs —
    // NOT letter-or-digit — so, unlike a BMP letter, it counts as a word
    // BOUNDARY. Full-codepoint semantics would suppress these matches; this
    // golden pins the engine's own choice so the documented limitation
    // cannot silently drift (round-3 verdict item 8).
    val ac = AhoCorasick.build(Seq("cell"))
    val astral = "𝕏" // 𝕏
    // BMP letter adjacency suppresses (the boundary rule working as intended)
    assert(ac.findAll("xcell").isEmpty)
    assert(ac.findAll("cellx").isEmpty)
    // astral letter adjacency does NOT suppress — and the span coordinates
    // are UTF-16 (astral prefix occupies TWO units)
    assert(ac.findAll(astral + "cell").map(m => (m._1, m._2)) == Seq((2, 6)))
    assert(ac.findAll("cell" + astral).map(m => (m._1, m._2)) == Seq((0, 4)))
    assert(ac.findAll(astral + "cell" + astral).map(m => (m._1, m._2)) == Seq((2, 6)))
    // the fused byte scanner agrees with the materializing path on the same input
    val hits = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    ac.newScanner().scan(
      org.apache.spark.unsafe.types.UTF8String.fromString(astral + "cell" + astral),
      (s, e, p) => hits += ((s, e, p)))
    assert(hits.map(m => (m._1, m._2)).toSeq == Seq((2, 6)))
  }

  test("multi-word pattern and overlapping patterns all emitted") {
    val ac = AhoCorasick.build(Seq("hash join", "join", "hash"))
    val m = ac.findAll("a hash join b")
    val pats = m.map(x => ac.patterns(x._3)).sorted
    assert(pats == Seq("hash", "hash join", "join"))
  }

  test("pattern that is a suffix of another still found via failure links") {
    val ac = AhoCorasick.build(Seq("table scan", "scan"))
    val m = ac.findAll("full table scan")
    assert(m.map(x => ac.patterns(x._3)).toSet == Set("table scan", "scan"))
  }

  test("10k patterns scale sanity") {
    val pats = (0 until 10000).map(i => s"term$i")
    val ac = AhoCorasick.build(pats)
    val m = ac.findAll("term42 and term9999 but not term10000x")
    assert(m.map(x => ac.patterns(x._3)) == Seq("term42", "term9999"))
  }

  /** `AhoCorasick.build` as it was before the trie moved into primitive
    * arrays (one boxed `HashMap[Character, Integer]` per node), kept verbatim
    * as the reference: it returns the constructor's arrays. */
  private def boxedTrieBuild(rawPatterns: Seq[String]): Seq[AnyRef] = {
    import scala.collection.mutable
    val RareClass = 63
    val patterns = rawPatterns.toArray
    val gotoMaps = mutable.ArrayBuffer[java.util.HashMap[Character, Integer]](new java.util.HashMap)
    val outSets = mutable.ArrayBuffer[mutable.ArrayBuffer[Int]](new mutable.ArrayBuffer)

    val edgeCounts = new Array[Int](Char.MaxValue + 1)
    var pid = 0
    while (pid < patterns.length) {
      val p = patterns(pid)
      var node = 0
      var i = 0
      while (i < p.length) {
        val c = Character.valueOf(p.charAt(i))
        val nxt: Integer = gotoMaps(node).get(c)
        if (nxt == null) {
          edgeCounts(c.charValue()) += 1
          gotoMaps += new java.util.HashMap
          outSets += new mutable.ArrayBuffer
          gotoMaps(node).put(c, Integer.valueOf(gotoMaps.length - 1))
          node = gotoMaps.length - 1
        } else node = nxt.intValue()
        i += 1
      }
      if (p.nonEmpty) outSets(node) += pid
      pid += 1
    }

    val alphabet = new mutable.ArrayBuffer[Int]
    var ch = 0
    while (ch <= Char.MaxValue) { if (edgeCounts(ch) > 0) alphabet += ch; ch += 1 }
    val byFreq = alphabet.sortBy(c => (-edgeCounts(c), c))
    val charClass = Array.fill[Byte](if (byFreq.isEmpty) 0 else byFreq.max + 1)(-1)
    byFreq.iterator.zipWithIndex.foreach { case (c, rank) => charClass(c) = math.min(rank, RareClass).toByte }

    val n = gotoMaps.length
    val order = new Array[Int](n)
    val id = new Array[Int](n)
    val failNode = new Array[Int](n)
    val base = new Array[Int](n + 1)
    val childMask = new Array[Long](n)
    val fail = new Array[Int](n)
    val outOff = new Array[Int](n + 1)
    val tailChars = new Array[Char](if (byFreq.length > RareClass) n - 1 else 0)
    var kids = new Array[Long](16)
    var s = 0
    var next = 1
    while (s < next) {
      val u = order(s)
      var deg = 0
      val it = gotoMaps(u).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getKey.charValue()
        if (deg == kids.length) kids = java.util.Arrays.copyOf(kids, 2 * deg)
        kids(deg) = (((charClass(c).toLong << 16) | c) << 32) | e.getValue.intValue()
        deg += 1
      }
      java.util.Arrays.sort(kids, 0, deg)
      base(s + 1) = base(s) + deg
      fail(s) = id(failNode(u))
      outOff(s + 1) = outOff(s) + outSets(u).length
      var k = 0
      while (k < deg) {
        val cls = (kids(k) >>> 48).toInt
        val c = (kids(k) >>> 32).toChar
        val v = kids(k).toInt
        childMask(s) |= 1L << cls
        if (cls == RareClass) tailChars(next - 1) = c
        val boxed = Character.valueOf(c)
        var f = failNode(u)
        var resolved = -1
        while (resolved < 0) {
          val nxt: Integer = gotoMaps(f).get(boxed)
          if (nxt != null && nxt.intValue() != v) resolved = nxt.intValue()
          else if (f == 0) resolved = 0
          else f = failNode(f)
        }
        failNode(v) = resolved
        outSets(v) ++= outSets(resolved)
        order(next) = v; id(v) = next; next += 1
        k += 1
      }
      s += 1
    }
    val outPids = new Array[Int](outOff(n))
    s = 0
    while (s < n) {
      outSets(order(s)).copyToArray(outPids, outOff(s))
      s += 1
    }
    val patLen = patterns.map(_.length)
    Seq(charClass, base, childMask, tailChars, fail, outOff, outPids, patLen, patterns)
  }

  test("primitive-array trie build == the boxed-map build, array for array") {
    val ctor = classOf[AhoCorasick].getDeclaredConstructors.head
    ctor.setAccessible(true)
    def bytes(o: AnyRef): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close()
      bos.toByteArray
    }
    val rnd = new scala.util.Random(3)
    // a small alphabet (all classes own a bit), a wide one (a rare tail:
    // non-ASCII, astral surrogates), duplicate and empty patterns, a
    // pattern that is another's suffix, and none at all
    val narrow = "abcde "
    val wide = (('a' to 'z') ++ ('0' to '9') ++ "äöüßéèêñçœ αβγδεζηθικλμνξπρστυφχψω-+.").mkString + "𝕏"
    def gen(alphabet: String, n: Int, maxLen: Int) =
      Seq.fill(n)(Seq.fill(1 + rnd.nextInt(maxLen))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val sets = Seq(
      Seq.empty[String], Seq(""), Seq("a", "", "a", "ab", "b"),
      Seq("table scan", "scan", "an", "n"),
      gen(narrow, 300, 8), gen(wide, 2000, 12), gen(wide, 50, 40) ++ gen(narrow, 50, 3))
    sets.foreach { pats =>
      val got = AhoCorasick.build(pats)
      val ref = ctor.newInstance(boxedTrieBuild(pats): _*).asInstanceOf[AhoCorasick]
      assert(java.util.Arrays.equals(bytes(got), bytes(ref)), s"compiled arrays differ for ${pats.take(5)}")
      Seq.fill(20)(gen(wide + narrow, 1, 200).head).foreach { t =>
        assert(got.findAll(t) == ref.findAll(t), t)
      }
    }
  }
}
