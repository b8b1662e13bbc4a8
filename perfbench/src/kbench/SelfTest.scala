package kbench

import java.nio.file.{Files => JFiles, Paths}

/** `kbench.SelfTest DIR`: the InfluxDB 3 tree generator is deterministic.
  * Writes the tree twice with one seed and once with another, and prints
  * one JSON line: whether the first two are byte-identical (data files and
  * snapshot JSON alike) and whether the third differs. No Spark session. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    def tree(name: String, seed: Long): Map[String, String] = {
      val root = dir.resolve(name)
      InfluxTree.generate(root, seed, hours = 2, smallRows = 50, hotFactor = 4, nScans = 4)
      Files.list(root).map { f =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        f -> md.digest(JFiles.readAllBytes(root.resolve(f))).map("%02x".format(_)).mkString
      }.toMap
    }
    val a = tree("a", 7L)
    val b = tree("b", 7L)
    val c = tree("c", 8L)
    println(Json.obj(Seq("files" -> a.size,
      "snapshots" -> a.keys.count(_.endsWith(".info.json")),
      "same_seed_identical" -> (a == b),
      "other_seed_differs" -> (a.keySet == c.keySet && a != c))))
    Files.deleteTree(dir)
  }
}
