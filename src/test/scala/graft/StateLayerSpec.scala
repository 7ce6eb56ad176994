package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The two streaming state decisions each live in one module: keyed
  * executor state only in `KeyedScan`, the exactly-once store write
  * policy only in `StoreIO`. A twin that calls the Spark API directly
  * would fork that decision again, so this reads the main sources and
  * fails on any use outside its owner.
  */
class StateLayerSpec extends AnyFunSuite {

  private val owners = Map(
    "flatMapGroupsWithState" -> "KeyedScan.scala",
    "transformWithState"     -> "KeyedScan.scala",
    "partitionOverwriteMode" -> "StoreIO.scala")

  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("keyed state and the store write policy each appear in one module only") {
    val files = sources
    assert(files.exists(_.getFileName.toString == "KeyedScan.scala"))
    val strays = for {
      f <- files
      text = new String(Files.readAllBytes(f), "UTF-8")
      (token, owner) <- owners
      if text.contains(token) && f.getFileName.toString != owner
    } yield s"$f uses $token (only $owner may)"
    assert(strays.isEmpty, strays.mkString("\n"))
  }
}
