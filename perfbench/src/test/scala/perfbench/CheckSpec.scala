package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** A tiny cold cycle through the program checks clean, and the checker
  * catches a single corrupted output.
  */
class CheckSpec extends BenchSpec {

  private lazy val (truth, verdicts, out, uploads) = {
    val root = tmpDir("cycle")
    val uploads = root.resolve("uploads")
    val truth = Gen.cycle(uploads, 21, Gen.Tiny)
    val tr = new Trace(spark, new BenchListener)
    val genie = new Genie(spark, tr)
    val centers = truth.centers.map(_.center)
    val state = root.resolve("state")
    val out = root.resolve("out")
    val verdicts = genie.validate(uploads, centers)
    centers.foreach(c => genie.processCenter(uploads, state, c))
    genie.processReleaseInputs(uploads, state, centers, verdicts)
    genie.release(state, centers, out)
    assert(tr.failures.isEmpty, tr.failures.mkString("\n"))
    (truth, verdicts, out, uploads)
  }

  private def released(o: Path) = Some(new Genie(spark, new Trace(spark, new BenchListener)).releasedSets(o))

  test("the program's outputs match the generator's expectation") {
    assert(Check.release(truth, verdicts, released(out)).isEmpty)
  }

  test("one flipped verdict is a wrong output") {
    val (f, v) = verdicts.head
    assert(Check.release(truth, verdicts.updated(f, !v), released(out)).nonEmpty)
  }

  test("one dropped released variant row is a wrong output") {
    val maf = out.resolve("release/Release 1/1.0-consortium/data_mutations_extended.txt")
    val lines = Files.readAllLines(maf).asScala
    val dataRow = lines.indexWhere(l => !l.startsWith("#") && l.startsWith("GENIE-"))
    val rows = if (dataRow >= 0) lines.patch(dataRow, Nil, 1) else lines
    val corrupt = out.getParent.resolve("corrupt")
    Main.copyTree(out, corrupt)
    Files.write(corrupt.resolve("release/Release 1/1.0-consortium/data_mutations_extended.txt"), rows.asJava)
    assert(Check.release(truth, verdicts, released(corrupt)).nonEmpty)
  }

  test("the benchmark's validation verdicts agree with ValidateCli.run per center") {
    truth.centers.foreach { c =>
      val anyError = Console.withOut(new java.io.PrintStream(java.io.OutputStream.nullOutputStream())) {
        graft.apps.ValidateCli.run(spark, c.center, uploads.resolve(c.center).toString)
      }
      val benchError = verdicts.exists { case (f, v) => f.startsWith(s"${c.center}/") && !v }
      assert(benchError == anyError, c.center)
      assert(anyError == c.invalidKinds.nonEmpty, c.center)
    }
  }
}
