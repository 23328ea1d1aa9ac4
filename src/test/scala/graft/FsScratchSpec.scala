package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Child JVM for [[FsScratchSpec]]: makes one non-empty scratch dir and
  * one scratch file, prints both paths, and exits without deleting
  * either. */
object FsScratchChild {
  def main(args: Array[String]): Unit = {
    val dir = Fs.scratchTempDir("graft-exit-spec-")
    Files.write(dir.resolve("payload"), Array[Byte](1))
    val file = Fs.scratchTempFile("graft-exit-spec-", ".bin")
    Files.write(file, Array[Byte](1))
    println(dir)
    println(file)
  }
}

class FsScratchSpec extends AnyFunSuite {

  test("scratch dirs and scratch files are both deleted at JVM exit") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val proc = new ProcessBuilder(java.toString, "-cp",
      System.getProperty("java.class.path"), "graft.FsScratchChild")
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, out)
    val paths = out.linesIterator.filter(_.contains("graft-exit-spec-"))
      .map(Paths.get(_)).toSeq
    assert(paths.size == 2, out)
    paths.foreach(p => assert(!Files.exists(p), s"$p outlived the JVM"))
  }
}
