package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Tests of the seeded generators: determinism, seed sensitivity and the
  * planted ABN checksum failures. Exits non-zero when any test fails.
  * Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  /** Relative path → bytes of every file under `dir`. */
  private def files(dir: Path): Map[String, Seq[Byte]] =
    Workload.treeFiles(dir).map { case (f, _) =>
      dir.relativize(Path.of(f)).toString -> Files.readAllBytes(Path.of(f)).toSeq
    }.toMap

  private def churnOps(seed: Long): Seq[Any] = {
    val c = new Gen.Churn(seed)
    c.initial ++ c.cycle() ++ c.cycle()
  }

  def main(args: Array[String]): Unit = {
    val tmp = Files.createTempDirectory("perfbench-selftest")
    try {
      val (a, b, c) = (tmp.resolve("a"), tmp.resolve("b"), tmp.resolve("c"))
      val ta = Gen.etl(11, a, Gen.EtlMeasured)
      val tb = Gen.etl(11, b, Gen.EtlMeasured)
      val tc = Gen.etl(12, c, Gen.EtlMeasured)
      val (fa, fb, fc) = (files(a), files(b), files(c))

      test("etl: same seed writes byte-identical files and the same truth") {
        fa.nonEmpty && fa == fb && ta == tb
      }
      test("etl: another seed writes different files") {
        fa.keySet == fc.keySet && fa.keySet.forall(k => fa(k) != fc(k)) && ta != tc
      }
      test("etl: ABNs pass the checksum except the planted invalid ones") {
        val abns = ta.abr.map(_.abn)
        abns.distinct.size == abns.size &&
          ta.abr.forall(e => Gen.abnValid(e.abn) == e.valid) &&
          // cross-checked against the program's own checksum kernel
          ta.abr.forall(e => graft.functions.AbnKernel.isValidString(e.abn) == e.valid) &&
          ta.abr.count(!_.valid) > 0 && ta.abr.count(_.valid) > ta.abr.size * 9 / 10
      }
      test("etl: the written XML carries every ABN, the last file cut mid-record") {
        val xml = fa.filter(_._1.startsWith("abr")).toSeq.sortBy(_._1)
          .map(kv => new String(kv._2.toArray, "UTF-8"))
        val text = xml.mkString.replace(" ", "")
        ta.abr.filter(_.parsed).forall(e => text.contains(s">${e.abn}</ABN>")) &&
          xml.init.forall(_.trim.endsWith("</ABRExtract>")) &&
          !xml.last.trim.endsWith("</ABRExtract>") && ta.abr.count(!_.parsed) == 1
      }
      test("etl: planted truth points at parsed, checksum-valid ABNs") {
        val valid = ta.abr.filter(e => e.parsed && e.valid).map(_.abn).toSet
        ta.planted.nonEmpty && ta.planted.values.forall(valid.contains) &&
          ta.planted.size <= ta.webAu
      }
      test("corpus: same seed, same corpus; another seed, another corpus") {
        val (x, y, z) = (Gen.corpus(5), Gen.corpus(5), Gen.corpus(6))
        x == y && x.texts != z.texts && x.dupPairs.nonEmpty &&
          x.dupPairs.forall { case (p, q) => p < q }
      }
      test("churn: same seed, same operations; another seed, other operations") {
        churnOps(3) == churnOps(3) && churnOps(3) != churnOps(4)
      }
    } finally Workload.deleteTree(tmp)
    if (failures.nonEmpty) {
      System.err.println(s"${failures.size} generator test(s) failed")
      sys.exit(1)
    }
    println("all generator tests passed")
  }
}
