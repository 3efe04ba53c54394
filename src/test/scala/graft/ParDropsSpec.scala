package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** A query body deletes its scratch dir once `parDrops` returns or
  * throws, so no landing may still be writing by then.
  */
class ParDropsSpec extends AnyFunSuite {

  test("parDrops raises the first landing's error only after every landing has ended") {
    val marker = Files.createTempDirectory("graft_pardrops").resolve("landed")
    val boom = new IllegalStateException("landing 0 failed")
    val err = intercept[IllegalStateException](SparkEntry.parDrops(0 to 1) { d =>
      if (d == 0) throw boom
      Thread.sleep(500)
      Files.writeString(marker, "1")
    })
    assert(err eq boom)
    assert(Files.exists(marker), "landing 1 must have ended before the error was raised")
  }
}
