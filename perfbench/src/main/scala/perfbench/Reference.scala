package perfbench

import scala.io.Source

/**
 * Recorded output hashes: one line per run configuration,
 * `workload<TAB>seed<TAB>patients<TAB>hash`, `#` starts a comment. A pass whose
 * configuration has a line must reproduce that hash exactly.
 */
object Reference {
  def lookup(path: String, workload: String, seed: Long, patients: Int): Option[String] = {
    val f = new java.io.File(path)
    if (!f.isFile) None
    else {
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")).collectFirst {
          case Array(w, s, p, h) if w == workload && s == seed.toString &&
            p == patients.toString => h
        }
      finally src.close()
    }
  }
}
