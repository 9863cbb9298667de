package graft

import org.scalatest.funsuite.AnyFunSuite

/** The library-facing operator index (OperatorIndex → README "Operator
  * index" table) must stay complete: a user mapping the registry's gate
  * names to public API entry points relies on it. Two pins:
  *  (1) index keys == registry keys EXACTLY (no drift either way);
  *  (2) every gate name appears in README.md, and README's table is
  *      exactly what `sbt "runMain graft.OperatorIndex"` prints.
  */
class OperatorIndexSpec extends AnyFunSuite {

  test("operator index covers the registry exactly") {
    val idx = OperatorIndex.entries.map(_._1)
    assert(idx.distinct.size == idx.size,
      s"duplicate index entries: ${idx.diff(idx.distinct).distinct}")
    val reg = Queries.all.keySet
    val missing = reg -- idx.toSet
    val extra = idx.toSet -- reg
    assert(missing.isEmpty && extra.isEmpty,
      s"index out of sync with registry — missing=$missing extra=$extra")
  }

  private lazy val readme: String = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)

  test("README lists every registry gate in the operator index table") {
    val missing = Queries.all.keySet
      .filterNot(n => readme.contains(s"`$n`"))
    assert(missing.isEmpty,
      s"README operator index is missing gates (re-run " +
        s"`sbt \"runMain graft.OperatorIndex\"` and refresh the table): " +
        missing.toSeq.sorted.mkString(", "))
  }

  test("README's operator index table is OperatorIndex's output, byte for byte") {
    val lines = readme.split("\n", -1).toSeq
    val rendered = lines.dropWhile(_ != OperatorIndex.table.head)
      .takeWhile(_.startsWith("|"))
    assert(rendered == OperatorIndex.table,
      "README operator index differs from OperatorIndex (re-run " +
        "`sbt \"runMain graft.OperatorIndex\"` and paste its output): " +
        rendered.zipAll(OperatorIndex.table, "<none>", "<none>")
          .find { case (r, t) => r != t }.mkString)
  }
}
