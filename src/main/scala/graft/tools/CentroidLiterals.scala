package graft.tools

import graft.operators.CentroidND

/** Scala source of centroids frozen as literals: the one writer behind
  * IvfTrain, PqTrain and PqResidualTrain. A centroid renders as
  * `CentroidND(cid, Array(v, …))` with `Double.toString` values, which
  * compile back to the same doubles.
  */
object CentroidLiterals {

  /** `Seq(`, one `item,` line per item indented two past `indent`, `)`. */
  private def seqOf(items: Seq[String], indent: String): String =
    items.map(i => s"$indent  $i,\n").mkString("Seq(\n", "", s"$indent)")

  /** One centroid list, its closing paren at `indent`. */
  def cells(cs: Seq[CentroidND], indent: String): String =
    seqOf(cs.map(c => s"CentroidND(${c.cid}, Array(${c.vec.mkString(", ")}))"), indent)

  /** One centroid list per product-quantization subspace. */
  def books(bs: Seq[Seq[CentroidND]]): String =
    seqOf(bs.map(cells(_, "    ")), "  ")

  /** A `graft.operators` file: the scaladoc `doc` (one entry per line),
    * then `object name` holding `members`. */
  def source(doc: Seq[String], name: String, members: String): String =
    "package graft.operators\n\n" + doc.mkString("/** ", "\n  * ", "\n  */\n") +
      s"object $name {\n$members}\n"

  /** Overwrites src/main/scala/graft/operators/<name>.scala. */
  def write(name: String, src: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"src/main/scala/graft/operators/$name.scala"), src)
}
