package graft.html

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The reference-parity sweep frozen into tier-1: every corpus of
  * `ParityCorpora` is regenerated in memory and every axis dump must have
  * the SHA-256 recorded in `parity/digests.tsv`. The digests were taken
  * from dumps that equal the outputs certified byte-identical to the
  * reference binary (tools/parity/README.md), so a changed digest is a
  * parser, extractor or generator change to adjudicate against the
  * reference, not a row to overwrite. Documents run one at a time on one
  * thread through the per-thread `NodeArena`, so this spec is also the
  * detector for a field missed in `Node.reset`. */
class ParitySpec extends AnyFunSuite {

  /** (corpus, axis) → (docs, sha256). */
  private val digests: Map[(String, String), (Int, String)] =
    Fixtures.resource("/parity/digests.tsv").linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(corpus, axis, docs, sha) = l.split('\t')
        (corpus, axis) -> (docs.toInt, sha)
      }.toMap

  test("digests.tsv has exactly one row per corpus and axis") {
    val pairs = ParityCorpora.corpora.flatMap(c => c.axes.map(c.name -> _)).toSet
    assert(digests.keySet == pairs)
  }

  for (c <- ParityCorpora.corpora) test(s"parity corpus ${c.name}: every axis matches its digest") {
    val docs = c.docs
    val wrong = c.axes.flatMap { axis =>
      val actual = (docs.size, ParityCorpora.sha256(axis, docs))
      val expected = digests.get(c.name -> axis)
      if (expected.contains(actual)) None
      else Some(s"${c.name} $axis: digests.tsv has ${expected.fold("no row")(_.toString)}, actual row\n" +
        s"${c.name}\t$axis\t${actual._1}\t${actual._2}\n" +
        s"""dump it: sbt "Test/runMain graft.html.ParityCorpora $axis ${c.name} <out-file>"""")
    }
    if (wrong.nonEmpty) fail(wrong.mkString("\n"))
  }

  test("probe_r6: clear-text equals the reference binary's output, ref.out") {
    // ref.out was produced by the reference (ref_clear_text.pl) on 2026-08-17
    def path(p: String) = Paths.get(getClass.getResource(s"/parity/probe_r6/$p").toURI)
    val docs = ParityCorpora.readDir(path("docs"))
    assert(docs.size == 19)
    val out = new ByteArrayOutputStream
    ParityCorpora.dump("clear-text", docs, out)
    assert(out.toString(UTF_8) == new String(Files.readAllBytes(path("ref.out")), UTF_8))
  }
}
