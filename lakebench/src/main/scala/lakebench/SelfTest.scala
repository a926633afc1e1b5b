package lakebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

/** Checks of the benchmark itself (no Spark): the generator is a pure
  * function of the seed, the tail-percentile rule picks the right
  * percentile, and the metric catalogue is well formed. Writes the
  * catalogue to `--out` so run.py can compare it with BENCHMARK.json. */
object SelfTest {
  def run(o: Bench.Opts): Int = {
    val errors = mutable.ArrayBuffer.empty[String]
    def check(cond: Boolean, what: => String): Unit = if (!cond) errors += what

    def tree(d: File): Map[String, Seq[Byte]] =
      d.listFiles.sortBy(_.getName).map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val a = new File(o.work, "gen-a"); val b = new File(o.work, "gen-b"); val c = new File(o.work, "gen-c")
    Gen.writeTranscripts(a, 42L, 3, 200)
    Gen.writeTranscripts(b, 42L, 3, 200)
    Gen.writeTranscripts(c, 43L, 3, 200)
    check(tree(a) == tree(b), "same seed wrote different transcripts")
    check(tree(a) != tree(c), "different seeds wrote identical transcripts")
    val (d1, next) = Gen.documents(42L, 0, 500, 200)
    check(d1.length == 500, s"${d1.length} documents, asked for 500")
    check(Gen.documents(42L, 0, 500, 200) == ((d1, next)), "same seed made different documents")
    check(Gen.documents(42L, next, 100, 200)._1.map(_.docId).toSet
      .intersect(d1.map(_.docId).toSet).isEmpty, "a later batch reuses document ids")
    val ep = Gen.episode(42L, 0, 700)
    check(ep.utts.length == 700, s"${ep.utts.length} utterances, asked for 700")
    check(ep.utts.forall(u => Gen.Stopwords.exists(w => u.text.split(' ').contains(w))),
      "an utterance without stopwords")
    check(ep.utts.zip(ep.utts.drop(1)).forall { case (x, y) => y.start >= x.end },
      "overlapping utterances")
    val spans = Gen.spans(ep.utts)
    check(spans.nonEmpty && spans.length < ep.utts.length, s"${spans.length} spans from ${ep.utts.length} utterances")
    val p = Gen.docProps(Gen.documents(42L, 0, 1500, 700)._1)
    check(p.exactDupShare > 0 && p.nearDupShare > 0, s"no planted duplicates: $p")

    // tail rule: the highest ladder percentile with >= 10 samples beyond
    def xs(n: Int) = (1 to n).map(_.toDouble)
    check(Report.tail(xs(19)).isEmpty, "tail of 19 samples")
    check(Report.tail(xs(20)) == Some((50.0, 10.0)), s"tail of 20: ${Report.tail(xs(20))}")
    check(Report.tail(xs(39)).map(_._1) == Some(50.0), s"tail of 39: ${Report.tail(xs(39))}")
    check(Report.tail(xs(40)) == Some((75.0, 30.0)), s"tail of 40: ${Report.tail(xs(40))}")
    check(Report.tail(xs(100)) == Some((90.0, 90.0)), s"tail of 100: ${Report.tail(xs(100))}")
    check(Report.tail(xs(200)) == Some((95.0, 190.0)), s"tail of 200: ${Report.tail(xs(200))}")
    check(Report.tail(xs(1000)) == Some((99.0, 990.0)), s"tail of 1000: ${Report.tail(xs(1000))}")
    check(Report.tail(xs(10000)) == Some((99.9, 9990.0)), s"tail of 10000: ${Report.tail(xs(10000))}")
    check(Report.tail(xs(100).reverse) == Report.tail(xs(100)), "tail depends on sample order")
    check(Report.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of four")

    val names = (Report.EndToEnd ++ Report.PerLayer).map(_.name)
    check(names.distinct.length == names.length, "a metric name is used twice")
    check(Report.PerLayer.length <= 128, s"${Report.PerLayer.length} per-layer metrics")
    check(names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")), "a malformed metric name")
    val ledger = Ledger.metrics(Map.empty).map(_._1)
    check(ledger == Report.PerLayer.map(_.name), "the ledger does not cover the catalogue")

    def cat(ms: Seq[Report.Metric]) =
      ms.map(m => Map("name" -> m.name, "unit" -> m.unit, "better" -> m.better))
    Files.write(o.out.toPath, Report.json(Map("end_to_end" -> cat(Report.EndToEnd),
      "per_layer" -> cat(Report.PerLayer), "errors" -> errors.toSeq)).getBytes(StandardCharsets.UTF_8))
    errors.foreach(e => System.err.println(s"self-test: $e"))
    if (errors.isEmpty) 0 else 1
  }
}
