package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.curie.Converter
import graft.fixtures.MiniOntology
import graft.ground.AhoCorasick
import graft.functions.WinnowingSketch

/**
 * Property tests (SURVEY §5 plan #3): compress∘expand identity, normalization
 * idempotence, automaton match-span soundness/completeness, winnowing
 * shared-substring guarantee. Pure JVM (no SparkSession) — these pin the
 * kernels every distributed operator is built from.
 */
object GraftProperties extends Properties("graft") {

  val conv: Converter = MiniOntology.converter

  val genPrefix: Gen[String] = Gen.oneOf("PATO", "CHEBI", "BFO", "RO")
  val genLocalId: Gen[String] = Gen.chooseNum(0L, Long.MaxValue).map(_.toString)

  property("expand(compress(iri)) == iri") =
    forAll(genPrefix, genLocalId) { (p, id) =>
      val iri = conv.expandOrNull(s"$p:$id")
      iri != null && conv.compressToCurie(iri) == s"$p:$id" &&
        conv.expandOrNull(conv.compressToCurie(iri)) == iri
    }

  property("compress never throws and is null-or-curie on arbitrary strings") =
    forAll(Gen.asciiPrintableStr) { s =>
      val c = conv.compressToCurie(s)
      c == null || c.contains(":")
    }

  property("normalize is idempotent") =
    forAll(Gen.asciiPrintableStr) { s =>
      val once = AhoCorasick.normalize(s)
      AhoCorasick.normalize(once) == once
    }

  property("normalize output has no upper-case, no runs, no edge separators") =
    forAll(Gen.asciiStr) { s =>
      val n = AhoCorasick.normalize(s)
      !n.exists(_.isUpper) && !n.contains("  ") &&
        !n.startsWith(" ") && !n.endsWith(" ")
    }

  private val word: Gen[String] = Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))

  property("automaton finds a planted word at a word boundary; spans are sound") = {
    forAll(Gen.listOfN(6, word), word) { (noise, term) =>
      val ac = AhoCorasick.build(Seq(term))
      val text = (noise.take(3) :+ term) ++ noise.drop(3) mkString " "
      val ms = ac.findAll(text)
      // completeness: the planted occurrence is found
      val found = ms.exists { case (s, e, pid) => text.substring(s, e) == term && pid == 0 }
      // soundness: every reported span is exactly the pattern at a boundary
      val sound = ms.forall { case (s, e, _) =>
        text.substring(s, e) == term &&
          (s == 0 || !text.charAt(s - 1).isLetterOrDigit) &&
          (e == text.length || !text.charAt(e).isLetterOrDigit)
      }
      found && sound
    }
  }

  // --- fused byte scanner ≡ materializing path ------------------------------

  private val sepChar: Gen[Char] = Gen.oneOf(' ', '\t', '\n', '-', '_', ' ')
  private val weirdChar: Gen[Char] = Gen.oneOf('Ä', 'é', 'ß', '中', '.', ',', '!', '0', '7', 'Z')
  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaChar, 2 -> sepChar, 1 -> weirdChar,
    1 -> Gen.const('\uD83D'), 1 -> Gen.const('\uDE00') // force surrogate pairs too
  )).map(cs => wellFormed(cs.mkString))

  /** Drops unpaired surrogates: UTF8String.fromString requires well-formed UTF-16. */
  private def wellFormed(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c)) {
        if (i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1))) { sb += c += s.charAt(i + 1); i += 2 }
        else i += 1
      } else if (Character.isLowSurrogate(c)) i += 1
      else { sb += c; i += 1 }
    }
    sb.toString
  }

  property("Scanner.scan(utf8 bytes) == findAllInto(normalize(text))") = {
    val patterns = Seq("data", "big data", "é", "x7", "a", "中 中")
    val ac = AhoCorasick.build(patterns)
    val scanner = ac.newScanner()
    forAll(textGen) { text =>
      val expected = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
      ac.findAllInto(AhoCorasick.normalize(text), (s, e, p) => expected += ((s, e, p)))
      val got = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
      scanner.scan(org.apache.spark.unsafe.types.UTF8String.fromString(text),
        (s, e, p) => got += ((s, e, p)))
      got == expected
    }
  }

  // --- both matchers ≡ an independent brute-force reference ------------------

  property("ASCII fold and word tables agree with Character.* on all 128 codes") =
    Prop((0 until 128).forall { i =>
      val c = i.toChar
      val sep = Character.isWhitespace(c) || c == '-' || c == '_'
      AhoCorasick.AsciiFold(i) == (if (sep) ' ' else Character.toLowerCase(c)) &&
        AhoCorasick.AsciiWord(i) == Character.isLetterOrDigit(c)
    })

  /** Every occurrence of every non-empty pattern in `norm` whose neighbours are
    * not letters or digits — no automaton, no shared transition code. */
  private def bruteForce(patterns: Seq[String], norm: String): Seq[(Int, Int, Int)] =
    (for {
      (p, pid) <- patterns.zipWithIndex if p.nonEmpty
      start <- 0 to norm.length - p.length if norm.startsWith(p, start)
      end = start + p.length
      if start == 0 || !Character.isLetterOrDigit(norm.charAt(start - 1))
      if end == norm.length || !Character.isLetterOrDigit(norm.charAt(end))
    } yield (start, end, pid)).sorted

  // every ASCII whitespace code (incl. the U+001C–U+001F separators), the two
  // folded punctuation marks, non-ASCII whitespace and U+00A0 (not whitespace)
  private val separators: Seq[String] =
    Seq("\t", "\n", "\u000B", "\f", "\r", "\u001C", "\u001D", "\u001E", "\u001F", " ",
      "-", "_", "\u2003", "\u3000", "\u00A0")
  private val narrowUnits: Seq[String] =
    ('a' to 'f').map(_.toString) ++ Seq("0", "7", "é", "ß", "中", "ø", ".", "'",
      "\uD835\uDD4F", "\uD83D\uDE00", "\uD801\uDC00") // 𝕏, 😀, 𐐀: surrogate pairs
  private val wideUnits: Seq[String] = // 93 distinct BMP letters and digits
    (('a' to 'z') ++ ('0' to '9') ++ ('\u03B1' to '\u03C9') ++ ('\u0430' to '\u044F')).map(_.toString)

  /** Lexicons with shared prefixes and suffixes: stems, stem joins, and the
    * prefixes and suffixes of those (which may split a surrogate pair). */
  private def lexiconGen(units: Seq[String]): Gen[Seq[String]] = {
    val stem = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf(units)).map(_.mkString))
    for {
      stems <- Gen.listOfN(6, stem)
      joined <- Gen.listOfN(4, Gen.listOfN(2, Gen.oneOf(stems)).map(_.mkString(" ")))
      cuts <- Gen.listOfN(10, Gen.chooseNum(1, 4))
      extra <- Gen.listOfN(2, Gen.oneOf(separators ++ units))
    } yield {
      val whole = stems ++ joined
      val affixes = whole.zip(cuts).flatMap { case (p, k) => Seq(p.take(k), p.takeRight(k)) }
      (whole ++ affixes ++ extra).filter(_.nonEmpty)
    }
  }

  /** Texts planting lexicon terms (random case, any separator run for a
    * space) among lexicon units, other units and separators. */
  private def plantedTextGen(lexicon: Seq[String], units: Seq[String]): Gen[String] = {
    val sepRun = Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf(separators)).map(_.mkString))
    val planted = for {
      p <- Gen.oneOf(lexicon)
      upper <- Gen.oneOf(true, false)
      sep <- sepRun
    } yield (if (upper) p.toUpperCase(java.util.Locale.ROOT) else p).replace(" ", sep)
    Gen.listOf(Gen.frequency(4 -> planted, 3 -> sepRun, 2 -> Gen.oneOf(units),
      1 -> Gen.oneOf(narrowUnits ++ wideUnits))).map(parts => wellFormed(parts.mkString))
  }

  private def matchesEqualBruteForce(lexicon: Seq[String], text: String): Boolean = {
    val ac = AhoCorasick.build(lexicon)
    val norm = AhoCorasick.normalize(text)
    val viaString = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    ac.findAllInto(norm, (s, e, p) => viaString += ((s, e, p)))
    val viaBytes = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    ac.newScanner().scan(org.apache.spark.unsafe.types.UTF8String.fromString(text),
      (s, e, p) => viaBytes += ((s, e, p)))
    val expected = bruteForce(lexicon, norm)
    viaString.sorted == expected && viaBytes.sorted == expected
  }

  property("scan and findAllInto equal a brute-force matcher (shared affixes, non-ASCII, separators)") =
    forAll(lexiconGen(narrowUnits).flatMap(l => plantedTextGen(l, narrowUnits).map((l, _)))) {
      case (lexicon, text) => matchesEqualBruteForce(lexicon, text)
    }

  /** Lexicons over all 93 wide units — more characters than the 63 bitmap
    * bits, so the rare tail is in use — plus ten Cyrillic letters alone and
    * after one unit, so the root and one node below it have many children. */
  private val wideLexiconGen: Gen[Seq[String]] = for {
    base <- lexiconGen(wideUnits)
    fan <- Gen.oneOf(wideUnits)
  } yield base ++ wideUnits.grouped(7).map(_.mkString) ++
    ('\u0446' to '\u044F').flatMap(c => Seq(c.toString, fan + c))

  property("scan and findAllInto equal a brute-force matcher over > 64 distinct pattern chars") =
    forAll(wideLexiconGen.flatMap(l => plantedTextGen(l, wideUnits).map((l, _)))) {
      case (lexicon, text) =>
        val alphabet = lexicon.flatten.distinct.size
        (alphabet > 64) :| s"alphabet $alphabet" && matchesEqualBruteForce(lexicon, text)
    }

  // the scan checks a state's outputs only before a non-word unit or at the
  // end of the text: patterns that END in a non-word unit, before every kind
  // of follower, pin that rule against the brute force
  private val nonWordEnders = Seq("c++", "vit. c.", "c+", "c", "vit", "+")
  private val followers = Seq("x", "7", "é", ".", "+", " ", " \t-", "_-\u3000", "\uD83D\uDE00", "")

  property("scan == brute force for patterns ending in a non-word unit, every follower") =
    Prop.all((for {
      p <- Seq("c++", "vit. c.")
      lead <- Seq("", "a ", "x", "(", "\uD83D\uDE00")
      follow <- followers
      upper <- Seq(false, true)
    } yield {
      val text = lead + (if (upper) p.toUpperCase(java.util.Locale.ROOT) else p) + follow
      matchesEqualBruteForce(nonWordEnders, text) :| s"text '$text'"
    }): _*)

  property("scan == brute force for non-word-ending patterns planted among any units") =
    forAll(plantedTextGen(nonWordEnders, narrowUnits ++ followers.filter(_.nonEmpty))) { text =>
      matchesEqualBruteForce(nonWordEnders, text)
    }

  property("Scanner reuse across calls leaves no state behind") = {
    val ac = AhoCorasick.build(Seq("ab", "b c"))
    val scanner = ac.newScanner()
    forAll(textGen, textGen) { (t1, t2) =>
      val fresh = ac.newScanner()
      def run(sc: AhoCorasick#Scanner, t: String) = {
        val buf = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
        sc.scan(org.apache.spark.unsafe.types.UTF8String.fromString(t), (s, e, p) => buf += ((s, e, p)))
        buf.toList
      }
      run(scanner, t1) // dirty the reused scanner
      run(scanner, t2) == run(fresh, t2)
    }
  }

  property("Scanner never reads past numBytes on truncated UTF-8") = {
    val ac = AhoCorasick.build(Seq("ab", "x"))
    val scanner = ac.newScanner()
    forAll(Gen.listOf(Gen.oneOf[Byte](0x61.toByte, 0x62.toByte, 0x20.toByte,
        0xE2.toByte, 0xC3.toByte, 0xF0.toByte, 0x9F.toByte, 0x98.toByte))) { bytes =>
      // arbitrary (often malformed/truncated) byte soup must scan without
      // exceptions or out-of-bounds reads; matches on the valid-ASCII subset
      // still fire
      val u = org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes.toArray)
      var n = 0
      scanner.scan(u, (_, _, _) => n += 1)
      n >= 0
    }
  }

  property("winnowing: identical text -> identical sketch; sketch non-empty") =
    forAll(Gen.asciiPrintableStr) { s =>
      val a = WinnowingSketch.sketch(s, 8, 4)
      val b = WinnowingSketch.sketch(s, 8, 4)
      a.toSeq == b.toSeq && a.nonEmpty
    }

  property("winnowing: a long shared substring guarantees a shared fingerprint") = {
    val longWord: Gen[String] = Gen.stringOfN(24, Gen.alphaLowerChar) // >= k+w-1 = 11
    forAll(longWord, word, word) { (shared, p1, p2) =>
      val sa = WinnowingSketch.sketch(s"$p1 zz $shared", 8, 4).toSet
      val sb = WinnowingSketch.sketch(s"$p2 qq $shared xx", 8, 4).toSet
      (sa & sb).nonEmpty
    }
  }

  property("Ref.fromCurie round-trips prefix:id") =
    forAll(genPrefix, genLocalId) { (p, id) =>
      graft.model.Ref.fromCurie(s"$p:$id").contains(graft.model.Ref(p, id))
    }

  // --- capped_collect_set: full buffer lifecycle vs a reference set ---------

  property("capped_collect_set buffer lifecycle == reference distinct set under cap") = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val genVals = Gen.listOf(Gen.chooseNum(-50L, 50L))
    val genParts = Gen.chooseNum(1, 5)
    forAll(genVals, genParts, Gen.chooseNum(5, 120)) { (vals, nParts, cap) =>
      val agg = graft.functions.CappedCollectSet(
        BoundReference(0, LongType, nullable = true), cap)
      // partial buffers per partition, each through a serialize round trip
      // (exactly what crosses the partial->final exchange), then merged
      val partials = vals.grouped(math.max(1, vals.size / nParts)).map { part =>
        val b = part.foldLeft(agg.createAggregationBuffer())(
          (buf, v) => agg.update(buf, InternalRow(v)))
        agg.deserialize(agg.serialize(b))
      }.toList
      val merged = partials.foldLeft(agg.createAggregationBuffer())(agg.merge)
      val row = agg.eval(merged).asInstanceOf[InternalRow]
      val n = row.getLong(0)
      val ids = row.getArray(1).toLongArray().toSeq
      val ref = vals.distinct.sorted
      if (ref.size <= cap) n == ref.size && ids == ref
      else n > cap && ids.size == cap + 1 && ids.toSet.subsetOf(ref.toSet) && ids == ids.sorted
    }
  }

  // --- media decoders: hostile containers can't hang, over-read, or escape ---

  private val byteSoup: Gen[Array[Byte]] =
    Gen.chooseNum(0, 150).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))).map(_.toArray)

  property("decodeBmp on arbitrary BM-prefixed bytes: decodes or IllegalArgumentException") =
    forAll(byteSoup) { noise =>
      val payload = "BM".getBytes ++ noise
      try { graft.operators.MultimodalOps.decodeBmp(payload); true }
      catch { case _: IllegalArgumentException => true } // any other escape (or a hang) fails
    }

  property("decodeWav on arbitrary RIFF/WAVE-framed bytes: decodes or IllegalArgumentException") =
    forAll(byteSoup, Gen.listOfN(4, Gen.chooseNum(-128, 127).map(_.toByte))) { (noise, sz) =>
      val payload = "RIFF".getBytes ++ sz.toArray ++ "WAVE".getBytes ++ noise
      try { graft.operators.MultimodalOps.decodeWav(payload); true }
      catch { case _: IllegalArgumentException => true }
    }

  property("decodePng on arbitrary signature-prefixed bytes: decodes or IllegalArgumentException") =
    forAll(byteSoup) { noise =>
      val payload = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++ noise
      try { graft.operators.MultimodalOps.decodePng(payload); true }
      catch { case _: IllegalArgumentException => true } // any other escape (or a hang) fails
    }

  property("PNG encode→decode round-trips arbitrary RGB/RGBA images exactly") =
    forAll(Gen.chooseNum(1, 24), Gen.chooseNum(1, 24), Gen.oneOf(true, false),
      Gen.long) { (w, h, alpha, seed) =>
      val rng = new scala.util.Random(seed)
      val px = Array.fill(h, w)((rng.nextInt(256), rng.nextInt(256), rng.nextInt(256), rng.nextInt(256)))
      val img = graft.operators.MultimodalOps.decodePng(
        graft.operators.MultimodalOps.encodePng(w, h, alpha, (x, y) => px(y)(x)))
      img.width == w && img.height == h &&
        (0 until h).forall(y => (0 until w).forall { x =>
          val (r, g, b, _) = px(y)(x); val o = (y * w + x) * 3
          (img.rgb(o) & 0xFF) == r && (img.rgb(o + 1) & 0xFF) == g && (img.rgb(o + 2) & 0xFF) == b
        })
    }

  property("GIF encode→decode round-trips arbitrary palette images exactly") =
    forAll(Gen.chooseNum(1, 32), Gen.chooseNum(1, 32), Gen.chooseNum(2, 256),
      Gen.long) { (w, h, nPal, seed) =>
      val rng = new scala.util.Random(seed)
      val pal = Array.fill(nPal)((rng.nextInt(256), rng.nextInt(256), rng.nextInt(256)))
      val idx = Array.fill(h, w)(rng.nextInt(nPal))
      val img = graft.operators.MultimodalOps.decodeGif(
        graft.operators.MultimodalOps.encodeGif(w, h, pal, (x, y) => idx(y)(x)))
      img.width == w && img.height == h &&
        (0 until h).forall(y => (0 until w).forall { x =>
          val (r, g, b) = pal(idx(y)(x)); val o = (y * w + x) * 3
          (img.rgb(o) & 0xFF) == r && (img.rgb(o + 1) & 0xFF) == g && (img.rgb(o + 2) & 0xFF) == b
        })
    }

  property("decodeGif on arbitrary GIF-framed bytes: decodes or IllegalArgumentException") =
    forAll(byteSoup) { noise =>
      val payload = "GIF89a".getBytes ++ noise
      try { graft.operators.MultimodalOps.decodeGif(payload); true }
      catch { case _: IllegalArgumentException => true }
    }

  property("decodeGif on a valid GIF with a corrupted byte: decodes or IllegalArgumentException") =
    forAll(Gen.chooseNum(0, 500), Gen.chooseNum(-128, 127).map(_.toByte)) { (pos, junk) =>
      val pal = Array.tabulate(16)(i => (i * 5, i * 9, i * 13))
      val ok = graft.operators.MultimodalOps.encodeGif(9, 7, pal, (x, y) => (x * 3 + y) % 16)
      val i = 6 + pos % (ok.length - 6)
      val bad = ok.clone(); bad(i) = junk
      try { graft.operators.MultimodalOps.decodeGif(bad); true }
      catch { case _: IllegalArgumentException => true }
    }

  property("decodePng on a valid PNG with corrupted tail bytes: decodes or IllegalArgumentException") =
    forAll(Gen.chooseNum(0, 200), Gen.chooseNum(-128, 127).map(_.toByte)) { (pos, junk) =>
      // structured fuzz: single-byte corruption of a REAL container reaches
      // deep states (mid-DEFLATE, mid-chunk) that pure byte soup never does
      val ok = graft.operators.MultimodalOps.encodePng(5, 5, hasAlpha = false,
        (x, y) => (x * 31, y * 17, x + y, 0))
      val i = 8 + pos % (ok.length - 8)
      val bad = ok.clone(); bad(i) = junk
      try { graft.operators.MultimodalOps.decodePng(bad); true }
      catch { case _: IllegalArgumentException => true }
    }
}
