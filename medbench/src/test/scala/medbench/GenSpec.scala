package medbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def drop(seed: Long): (Path, Seq[Path], Truth) = {
    val dir = Files.createTempDirectory("medbench_gen")
    val truth = new Truth
    val files = Gen.writeDrop(dir, "t", seed, 3, 2, truth,
      correct = Some(2))
    (dir, files, truth)
  }

  private def bytes(files: Seq[Path]) = files.map(f => f.getFileName.toString ->
    Files.readAllBytes(f).toSeq).toMap

  test("the same seed writes the same files and the same truth") {
    val (_, a, ta) = drop(7)
    val (_, b, tb) = drop(7)
    assert(bytes(a) == bytes(b))
    assert(ta.silverRows == tb.silverRows && ta.goldRows == tb.goldRows)
    assert(ta.tx == tb.tx && ta.segments == tb.segments && ta.stepsByDate == tb.stepsByDate)
    assert(ta.inputRows == tb.inputRows && ta.inputBytes == tb.inputBytes)
  }

  test("another seed writes other files") {
    val (_, a, _) = drop(7)
    val (_, b, _) = drop(8)
    assert(bytes(a) != bytes(b))
  }

  test("a day's rows do not depend on the drop that carries it") {
    val dir = Files.createTempDirectory("medbench_gen")
    val one = new Truth
    Gen.writeDrop(dir.resolve("a"), "a", 5, 0, 3, one)
    val split = new Truth
    (0 until 3).foreach(d => Gen.writeDrop(dir.resolve(s"b$d"), s"b$d", 5, d, 1, split))
    assert(one.tx.map(_.copy(file = "")) == split.tx.map(_.copy(file = "")))
    assert(one.stepsByDate == split.stepsByDate && one.hrMinutes == split.hrMinutes)
  }

  test("the drop carries the edge cases the pipeline must tolerate") {
    val (dir, files, truth) = drop(11)
    val text = files.map(f => new String(Files.readAllBytes(f), "UTF-8")).mkString
    assert(text.contains("NULL"))
    assert(text.contains("not-a-time") && text.contains("not-a-date"))
    assert("\"\\$[0-9]{1,3}(,[0-9]{3})+\\.[0-9]{2}\"".r.findFirstIn(text).nonEmpty)
    assert(text.contains("\"placeLocation\": {") && text.contains("\"placeLocation\": \""))
    assert(text.contains("\"startLocation\"") && text.contains("\"start\""))
    assert(files.exists(_.getFileName.toString.endsWith("_fix.csv")))
    assert(truth.silverRows("steps_hourly") == 2 * 24)
    assert(truth.logs.count(_.corrected) == 1)
  }
}
