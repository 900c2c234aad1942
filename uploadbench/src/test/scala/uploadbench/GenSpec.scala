package uploadbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val spec = Gen.Spec(
    Seq(Gen.TableSpec("t_big", 3000), Gen.TableSpec("t_small", 400)),
    increments = 2, churn = 0.02, secondSnapshot = true, snapshotChurn = 0.05)

  private def files(root: Path): Map[String, Array[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p)).toMap
    finally s.close()
  }

  private def tmp(): Path = Files.createTempDirectory("uploadbench-gen")

  test("the same seed writes a byte-identical repository") {
    val a = tmp(); val b = tmp()
    try {
      val ra = Gen.generate(a, spec, 42)
      val rb = Gen.generate(b, spec, 42)
      val fa = files(a); val fb = files(b)
      assert(fa.keySet == fb.keySet)
      assert(fa.keySet.size == 1 + 2 + 2 * 3 + 2) // conf, base, 2 x (change + 2), snapshot
      fa.foreach { case (k, v) => assert(java.util.Arrays.equals(v, fb(k)), k) }
      assert(ra.expected == rb.expected)
      assert(ra.finalTables == rb.finalTables)
    } finally { Main.deleteTree(a); Main.deleteTree(b) }
  }

  test("another seed writes other content") {
    val a = tmp(); val b = tmp()
    try {
      Gen.generate(a, spec, 1); Gen.generate(b, spec, 2)
      val fa = files(a); val fb = files(b)
      assert(fa.keySet == fb.keySet)
      assert(fa.exists { case (k, v) => !java.util.Arrays.equals(v, fb(k)) })
    } finally { Main.deleteTree(a); Main.deleteTree(b) }
  }

  test("the model covers every action and the cleanser's inputs") {
    val a = tmp()
    try {
      val r = Gen.generate(a, spec, 7)
      val l5 = r.level5.flatMap(ds => r.tables.map(t => r.expected((ds.name, t))))
      assert(l5.forall(c => c.ins > 0 && c.upd > 0 && c.nul > 0 && c.del > 0))
      val text = new String(Files.readAllBytes(r.level0.head.files.head), "UTF-8")
      assert(text.exists(c => c < 0x20 && c != '\n' && c != '\t'), "control characters")
      assert(text.exists(_ > 0x7F), "non-ASCII text")
      assert("\\|17\\d\\d-".r.findFirstIn(text).isDefined, "pre-1800 datetimes")
      assert(text.linesIterator.count(_.endsWith("|broken|")) == Gen.MalformedPerFile)
      val rows = r.finalTables("t_big")
      assert(rows.map(_.code).distinct.size == rows.size, "unique column stays unique")
      assert(rows.exists(_.created == Gen.Sentinel))
      assert(rows.forall(c => c.name == null || !c.name.exists(_ < 0x20)))
    } finally Main.deleteTree(a)
  }
}
