package kgbench

import scala.collection.mutable

/**
 * Seeded input generators. Each is a pure function of its arguments: the
 * same seed gives byte-identical documents and identical rows. Randomness is
 * drawn per key (node, conversation, document) from a stream derived from
 * (seed, key), so a row does not depend on how generation is split.
 */
object Gen {

  def rng(seed: Long, key: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(mix(seed) ^ key))

  /** 64-bit finalizer (murmur3 fmix64). */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private val Syllables = Array("ba", "ko", "ri", "te", "lu", "mo", "sa", "ne", "di", "fa",
    "gu", "pi", "zo", "he", "va", "ju", "xe", "qo", "ty", "cy")

  /** A pronounceable term word, distinct for every k ≥ 0 (at least three
    * syllables, so it never collides with the corpus noise words). */
  def termWord(k: Int): String = {
    val b = new StringBuilder
    var x = k
    var n = 0
    while (n < 3 || x > 0) { b ++= Syllables(x % 20); x /= 20; n += 1 }
    b.toString
  }

  /** Corpus filler vocabulary, as in the library's own synthetic corpus. */
  val NoiseWords = 20000
  def noiseWord(k: Int): String = "w" + k

  // ---------------------------------------------------------------------------
  // OBO Graph JSON
  // ---------------------------------------------------------------------------

  /** Shared xref namespace: nodes of any ontology xref into it, so xref
    * chains join nodes through it. */
  val XrefPrefix = "XR"
  val XrefUri = "http://example.org/xr/"
  /** A known prefix that no generated ontology owns: its nodes are dropped
    * as foreign by the prefix filter. */
  val ForeignPrefix = "FOREIGN"

  def uriPrefix(prefix: String): String = s"http://example.org/obo/${prefix}_"

  final case class Ontology(
      prefix: String,
      json: String,
      nodes: Int,          // node entries in the document
      skipped: Int,        // foreign-prefix and unparseable-IRI nodes among them
      surfaces: Seq[String]) // label and synonym texts, for planting mentions

  /**
   * One OBO Graph JSON document with `nNodes` nodes under `prefix`. It carries
   * labels, exact and related synonyms, xrefs into [[XrefPrefix]] (nodes
   * sharing an xref form chains the xref merge must join), xrefs with an
   * unknown prefix, `equivalentNodesSets`, an `is_a` DAG (some edges spelled
   * as the subClassOf IRI, some part_of edges), and every lenient-skip node
   * kind: no `lbl`, no `meta`, deprecated, foreign prefix, unparseable IRI.
   */
  def ontology(prefix: String, nNodes: Int, seed: Long): Ontology = {
    val uri = uriPrefix(prefix)
    val key = prefix.hashCode.toLong << 32
    def id(i: Int): String = f"$uri$i%07d"
    val words = math.max(64, nNodes * 3)
    val nodeJson = new mutable.ArrayBuffer[String](nNodes)
    val edgeJson = new mutable.ArrayBuffer[String]()
    val ens = new mutable.ArrayBuffer[String]()
    val surfaces = new mutable.ArrayBuffer[String]()
    var skipped = 0
    for (i <- 0 until nNodes) {
      val r = rng(seed, key + i)
      val nodeId =
        if (i % 53 == 7) { skipped += 1; f"${uriPrefix(ForeignPrefix)}$i%07d" }
        else if (i % 59 == 11) { skipped += 1; s"urn:kgbench:unparseable/$prefix/$i" }
        else id(i)
      val label = termWord(r.nextInt(words)) + " " + termWord(r.nextInt(words))
      val syns = mutable.ArrayBuffer[String]()
      if (r.nextInt(3) > 0) {
        val t = termWord(r.nextInt(words))
        syns += s"""{"val":"$t","pred":"hasExactSynonym","xrefs":["$prefix:${f"$i%07d"}"]}"""
        surfaces += t
      }
      if (r.nextInt(3) == 0) {
        val t = termWord(r.nextInt(words)) + " " + termWord(r.nextInt(words))
        syns += s"""{"val":"$t","pred":"hasRelatedSynonym"}"""
        surfaces += t
      }
      val xrefs = mutable.ArrayBuffer[String]()
      if (r.nextInt(4) == 0) xrefs += s"""{"val":"$XrefPrefix:${r.nextInt(math.max(1, nNodes / 2))}"}"""
      if (r.nextInt(20) == 0) xrefs += """{"val":"UNKNOWNPFX:1"}"""
      val lbl = if (i % 47 == 5) "" else { surfaces += label; s""","lbl":"$label"""" }
      val meta =
        if (i % 43 == 3) ""
        else s""","meta":{"synonyms":${syns.mkString("[", ",", "]")},""" +
          s""""xrefs":${xrefs.mkString("[", ",", "]")},"deprecated":${i % 41 == 2}}"""
      nodeJson += s"""{"id":"$nodeId"$lbl,"type":"CLASS"$meta}"""
      if (i > 0) {
        val parent = id(r.nextInt(i))
        val pred = if (i % 7 == 0) "http://www.w3.org/2000/01/rdf-schema#subClassOf" else "is_a"
        edgeJson += s"""{"sub":"$nodeId","pred":"$pred","obj":"$parent"}"""
        if (i % 11 == 0)
          edgeJson += s"""{"sub":"$nodeId","pred":"http://purl.obolibrary.org/obo/BFO_0000050","obj":"${id(r.nextInt(i))}"}"""
      }
      if (i % 97 == 13 && i > 1)
        ens += s"""{"nodeIds":["${id(i)}","${id(i - 1)}","$XrefUri${r.nextInt(math.max(1, nNodes / 2))}"]}"""
    }
    val json =
      s"""{"graphs":[{"id":"http://purl.obolibrary.org/obo/${prefix.toLowerCase}.owl",""" +
        s""""lbl":"$prefix generated ontology",""" +
        s""""meta":{"version":"http://example.org/obo/$prefix/releases/$seed/$prefix.owl"},""" +
        s""""nodes":${nodeJson.mkString("[", ",", "]")},""" +
        s""""edges":${edgeJson.mkString("[", ",", "]")},""" +
        s""""equivalentNodesSets":${ens.mkString("[", ",", "]")}}]}"""
    Ontology(prefix, json, nNodes, skipped, surfaces.distinct.toSeq)
  }

  // ---------------------------------------------------------------------------
  // Extra lexicon (literal mappings beside the ontology's own)
  // ---------------------------------------------------------------------------

  final case class Lexeme(id: String, predicate: String, text: String)

  val LexiconPrefix = "LEX"

  /** `n` literal mappings: one in ten a single word absent from the noise
    * vocabulary, the rest two noise words, which also occur by chance in
    * the corpus (realistic accidental hits, and multi-token automaton depth). */
  def lexicon(n: Int, seed: Long): Seq[Lexeme] = (0 until n).map { k =>
    val r = rng(seed, (7L << 40) + k)
    val text =
      if (k % 10 == 0) "x" + k
      else noiseWord(r.nextInt(NoiseWords)) + " " + noiseWord(r.nextInt(NoiseWords))
    val pred = if (k % 3 == 0) "rdfs:label" else "oboInOwl:hasExactSynonym"
    Lexeme(f"$k%07d", pred, text)
  }

  // ---------------------------------------------------------------------------
  // Transcripts
  // ---------------------------------------------------------------------------

  final case class TurnRow(conv_id: String, turn_idx: Int, role: String, text: String,
                           tool: String, ts: java.sql.Timestamp)

  /**
   * Conversation `i`: 4–15 turns, every 1000th one `skew`× longer; each turn
   * has `wordsPerTurn` slots, one in `mentionEvery` a planted term from
   * `plants`, the rest noise words.
   */
  def conversation(i: Long, seed: Long, plants: Array[String], wordsPerTurn: Int = 40,
                   skew: Int = 50, mentionEvery: Int = 16): Seq[TurnRow] = {
    val r = rng(seed, (3L << 40) + i)
    val base = 4 + r.nextInt(12)
    val nTurns = if (i % 1000 == 0) base * skew else base
    val roles = Array("user", "assistant", "tool")
    (0 until nTurns).map { t =>
      val b = new StringBuilder
      var w = 0
      while (w < wordsPerTurn) {
        if (w > 0) b += ' '
        if (r.nextInt(mentionEvery) == 0) b ++= plants(r.nextInt(plants.length))
        else b ++= noiseWord(r.nextInt(NoiseWords))
        w += 1
      }
      TurnRow(s"c$i", t, roles(t % 3), b.toString, if (t % 3 == 2) "search" else null,
        new java.sql.Timestamp((1700000000L + i * 10000 + t) * 1000))
    }
  }

  // ---------------------------------------------------------------------------
  // Curation documents
  // ---------------------------------------------------------------------------

  final case class Doc(doc_id: Long, lang: String, text: String)
  final case class EvalItem(bench_id: Long, text: String)

  final case class Documents(
      docs: Seq[Doc],
      evalItems: Seq[EvalItem],
      uniqueIds: Set[Long],       // originals: every one must survive dedup
      exactDupIds: Set[Long],     // case/whitespace copies: removed by exact dedup
      nearDupIds: Set[Long],      // one-word edits: removed by minhash dedup
      contaminatedIds: Set[Long], // contain an eval item: removed by decontamination
      repetitiveIds: Set[Long])   // one phrase repeated: removed by the repetition filter

  val Langs = Array("en", "de", "fr")

  /**
   * `nUnique` original documents in three languages (60–139 words; some
   * carry an e-mail address and a phone number for redaction), then exact
   * duplicates of a tenth of them and one-word near-duplicates of a
   * twentieth. Copies get higher ids than their originals, so the kept
   * representative (min id) is always the original. 40 eval items, some
   * planted into originals.
   */
  def documents(nUnique: Int, seed: Long): Documents = {
    val evalItems = (0 until 40).map { k =>
      val r = rng(seed, (5L << 40) + k)
      EvalItem(k, Seq.fill(24)("e" + r.nextInt(5000)).mkString(" "))
    }
    val contaminated = mutable.Set[Long]()
    val repetitive = mutable.Set[Long]()
    val originals = (0 until nUnique).map { i =>
      val r = rng(seed, (6L << 40) + i)
      val lang = Langs(r.nextInt(3))
      val len = 60 + r.nextInt(80)
      val words =
        if (i % 40 == 9) {
          repetitive += i
          val phrase = Seq.fill(4)(lang.take(1) + r.nextInt(5000)) :+ s"r$i"
          Iterator.continually(phrase).flatten.take(len).toIndexedSeq
        } else {
          val ws = mutable.ArrayBuffer.fill(len)(lang.take(1) + r.nextInt(5000))
          if (i % 50 == 7) {
            contaminated += i
            ws.insert(r.nextInt(len), evalItems(r.nextInt(evalItems.size)).text)
          }
          if (i % 30 == 4)
            ws.insert(r.nextInt(len), s"contact user$i@example.com or 555-01${i % 90 + 10}")
          ws.toIndexedSeq
        }
      Doc(i, lang, words.mkString(" "))
    }
    val r = rng(seed, 9L << 40)
    val plain = originals.filterNot(d => repetitive.contains(d.doc_id))
    var next = nUnique.toLong
    val exact = (0 until nUnique / 10).map { _ =>
      val src = originals(r.nextInt(nUnique))
      val d = Doc(next, src.lang, "  " + src.text.toUpperCase.replaceFirst(" ", "   ") + " ")
      next += 1; d
    }
    val near = (0 until nUnique / 20).map { j =>
      val src = plain(r.nextInt(plain.size))
      val ws = src.text.split(" ")
      ws(3 + r.nextInt(ws.length - 6)) = s"z$j"
      val d = Doc(next, src.lang, ws.mkString(" "))
      next += 1; d
    }
    Documents(originals ++ exact ++ near, evalItems,
      originals.map(_.doc_id).toSet, exact.map(_.doc_id).toSet, near.map(_.doc_id).toSet,
      contaminated.toSet, repetitive.toSet)
  }
}
