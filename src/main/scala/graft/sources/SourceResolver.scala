package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Cascading multi-format source resolution (SURVEY S6 — robot.py:122-188):
 * given an ordered list of candidate sources for an ontology, try each in
 * order, first success wins; every failure is RECORDED (never thrown) and the
 * overall result may be empty. Preserves the reference's cost-based access
 * path: JSON (cheap native parse) before any converted format.
 *
 * Driver-side by design — ontology documents are tiny next to the corpus
 * (robot.py's ROBOT-subprocess conversion path is out of engine scope per
 * SURVEY S3; an OWL source here would be pre-converted upstream).
 */
object SourceResolver {

  /** F6 (pystow.name_from_url semantics, consumed at robot.py:159): the cache
    * filename for a download URL — last path segment, query/fragment
    * stripped, percent-decoded. TOTAL function: '+' stays literal (this is
    * path decoding, not form decoding — URLDecoder would turn it into a
    * space) and malformed %-sequences pass through unchanged instead of
    * throwing. Used by [[ConvertedSource.cached]] to key converter outputs. */
  def nameFromUrl(url: String): String = {
    val noFrag = url.takeWhile(c => c != '?' && c != '#')
    val seg = noFrag.substring(noFrag.lastIndexOf('/') + 1)
    def hex(c: Char): Int = Character.digit(c, 16)
    val sb = new java.lang.StringBuilder(seg.length)
    val bytes = new java.io.ByteArrayOutputStream() // consecutive %XX → one UTF-8 run
    def flush(): Unit = if (bytes.size > 0) {
      sb.append(new String(bytes.toByteArray, "UTF-8")); bytes.reset()
    }
    var i = 0
    while (i < seg.length) {
      val c = seg.charAt(i)
      if (c == '%' && i + 2 < seg.length && hex(seg.charAt(i + 1)) >= 0 && hex(seg.charAt(i + 2)) >= 0) {
        bytes.write(hex(seg.charAt(i + 1)) * 16 + hex(seg.charAt(i + 2)))
        i += 3
      } else {
        flush(); sb.append(c); i += 1
      }
    }
    flush()
    sb.toString
  }

  sealed trait SourceSpec { def path: String; def kind: String }
  final case class JsonSource(path: String) extends SourceSpec { val kind = "obograph-json" }
  /** Placeholder for formats needing driver-side pre-conversion (OWL/OBO). */
  final case class UnsupportedSource(path: String, kind: String) extends SourceSpec

  /**
   * S4/S5 conversion-flag semantics (robot.py:191-260): `check` toggles the
   * OBO document-structure enforcement — `check = false` is the reference's
   * documented escape hatch for malformed ontologies (ner.py:55-64);
   * `reason` turns on ontology reasoning; `merge` squashes all graphs.
   * The local and remote wrappers default ASYMMETRICALLY in the reference,
   * modeled by the two constants below.
   */
  final case class ConvertFlags(check: Boolean = true, reason: Boolean = false,
                                merge: Boolean = false, debug: Boolean = false,
                                extraArgs: Seq[String] = Nil) {
    /** ROBOT-style argv rendering, substituted for a `{flags}` command token.
      * `debug` renders the reference's `-vvv` (robot.py:301-302); `extraArgs`
      * pass through verbatim (robot.py:269 `extra_args`). */
    def render: Seq[String] =
      Seq("--check", if (check) "true" else "false") ++
        (if (reason) Seq("--reason") else Nil) ++
        (if (merge) Seq("--merge") else Nil) ++
        (if (debug) Seq("-vvv") else Nil) ++
        extraArgs
  }

  object ConvertFlags {
    /** `convert_to_obograph_local` defaults (robot.py:191-198). */
    val Local = ConvertFlags()
    /** `convert_to_obograph_remote` defaults (robot.py:227-233): reasoning
      * and graph-merge ON when pulling a remote IRI. */
    val Remote = ConvertFlags(check = true, reason = true, merge = true)
  }

  /**
   * S3-S5 analogue (robot.py:263-357 convert_to_obograph family): an OWL/OBO
   * source plus an EXTERNAL converter invocation that produces OBO Graph
   * JSON. `command` templates `{in}`/`{out}` (and an optional `{flags}`
   * token that expands to [[ConvertFlags.render]] — commands without the
   * token ignore flags, so non-ROBOT converters stay expressible); a present
   * converter runs once (output cached at `outPath` — the reference's
   * local-conversion wrapper S4), an absent/failing/hung converter is a
   * RECORDED skip, never an error — the engine stays free of a ROBOT
   * dependency while closing the ingest surface for deployments that ship
   * one.
   */
  final case class ConvertedSource(path: String, sourceKind: String,
                                   command: Seq[String], outPath: String,
                                   flags: ConvertFlags = ConvertFlags.Local,
                                   timeoutSec: Long = 600L) extends SourceSpec {
    val kind = s"$sourceKind+convert"

    /** The exact argv executed: `{in}`/`{out}` substituted, `{flags}`
      * expanded in place. `{out}` points at a TEMP path during conversion —
      * the cache location only ever holds complete rc==0 output. */
    def renderedCommand(outTarget: String = outPath): Seq[String] =
      command.flatMap {
        case "{flags}" => flags.render
        case tok       => Seq(tok.replace("{in}", path).replace("{out}", outTarget))
      }

    /** ner.py:55-64 escape hatch: same source, structure checks off. */
    def unchecked: ConvertedSource = copy(flags = flags.copy(check = false))
  }

  object ConvertedSource {
    /** Cache-keyed construction: the converter output lives at
      * `cacheDir/<nameFromUrl(source)>.json` — the reference's
      * download-and-cache naming (S7, robot.py:159). */
    def cached(path: String, sourceKind: String, command: Seq[String],
               cacheDir: String, flags: ConvertFlags = ConvertFlags.Local): ConvertedSource =
      ConvertedSource(path, sourceKind, command, s"$cacheDir/${nameFromUrl(path)}.json",
        flags)
  }

  final case class Resolution(
      graphs: Option[DataFrame],
      resolvedFrom: Option[SourceSpec],
      messages: Seq[String]) // ParseResults.messages analogue (robot.py:44-47)

  def resolve(spark: SparkSession, sources: Seq[SourceSpec],
              sourceIri: Option[String] = None): Resolution = {
    val messages = scala.collection.mutable.ArrayBuffer[String]()
    // the read step of JSON and converted sources: a document with graphs
    // resolves the cascade; an empty one is recorded and the cascade goes on
    def read(s: SourceSpec, path: String, done: String): Option[Resolution] = {
      val df = OboGraphReader.readGraphs(spark, path, sourceIri)
      if (df.limit(1).count() > 0) Some(Resolution(Some(df), Some(s), messages.toSeq))
      else { messages += s"[${s.kind}] $path $done but contained no graphs"; None }
    }
    sources.foreach {
      case s @ JsonSource(path) =>
        try read(s, path, "parsed").foreach(r => return r)
        catch {
          case e: Exception =>
            // fallback-and-record, never fail (robot.py:138-147 semantics)
            messages += s"[${s.kind}] $path failed: ${e.getMessage}"
        }
      case s: ConvertedSource =>
        try {
          val out = java.nio.file.Paths.get(s.outPath)
          if (!java.nio.file.Files.exists(out)) {
            // converter writes to a TEMP path, renamed into the cache slot
            // only on rc==0 — a failed/killed conversion must never leave a
            // partial file that (a) parses as garbage now and (b) poisons the
            // `Files.exists` cache guard on every later run
            val tmp = java.nio.file.Paths.get(
              s.outPath + ".tmp." + ProcessHandle.current().pid())
            try {
              val cmd = s.renderedCommand(tmp.toString)
              val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
              // drain asynchronously: a full pipe buffer would deadlock the
              // child, but a blocking readAllBytes would defeat the timeout
              val logBuf = new java.io.ByteArrayOutputStream()
              val drain = new Thread(() =>
                try proc.getInputStream.transferTo(logBuf)
                catch { case _: java.io.IOException => () })
              drain.setDaemon(true)
              drain.start()
              if (!proc.waitFor(s.timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
                // a hung converter must not block the sweep — and converters
                // are typically wrappers (sh/java launchers), so kill the whole
                // process tree or the grandchild doing the real work survives,
                // burning CPU and holding the drain pipe open
                proc.descendants().forEach(h => { h.destroyForcibly(); () })
                proc.destroyForcibly()
                // destroyForcibly is ASYNC: without a grace wait the finally
                // block's tmp delete can race the still-dying child re-creating
                // tmp, stranding a stale .tmp.<pid> file (cache correctness is
                // unaffected — tmp is never promoted — but the litter is real)
                proc.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)
                messages += s"[${s.kind}] ${s.path} converter timed out after ${s.timeoutSec}s"
              } else {
                drain.join(2000)
                val rc = proc.exitValue()
                if (rc == 0 && java.nio.file.Files.exists(tmp)) {
                  java.nio.file.Files.move(tmp, out,
                    java.nio.file.StandardCopyOption.REPLACE_EXISTING)
                  // ParseResults.messages parity (robot.py:328): the converter's
                  // text output rides along as diagnostics on success too
                  val log = logBuf.toString("UTF-8").trim
                  if (log.nonEmpty)
                    messages += s"[${s.kind}] ${s.path} converter output: ${log.take(200)}"
                } else if (rc != 0) {
                  messages += s"[${s.kind}] ${s.path} converter exited $rc: " +
                    logBuf.toString("UTF-8").take(200)
                } else {
                  // rc==0 but no output file: a misconfigured command (missing
                  // {out} token, converter writing elsewhere/stdout) must be a
                  // RECORDED skip, not a silent one
                  messages += s"[${s.kind}] ${s.path} converter exited 0 but wrote no output " +
                    s"(does the command use the {out} token?)"
                }
              }
            } finally java.nio.file.Files.deleteIfExists(tmp)
          }
          if (java.nio.file.Files.exists(out))
            read(s, s.outPath, "converted").foreach(r => return r)
        } catch {
          case e: Exception => // converter missing / conversion or parse failed → record, fall through
            messages += s"[${s.kind}] ${s.path} conversion failed: ${e.getMessage}"
        }
      case s: UnsupportedSource =>
        messages += s"[${s.kind}] ${s.path} skipped: format requires driver-side pre-conversion"
    }
    Resolution(None, None, messages.toSeq) // empty result, diagnostics kept (robot.py:188)
  }
}
