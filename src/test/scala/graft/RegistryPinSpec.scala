package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query registry: the sorted key set of
  * [[SparkEntry.queries]] and a SHA-256 of each key's
  * [[SparkEntry.oracleSql]] text, against `registry_pin.tsv`. A
  * refactor of the builders or the oracle SQL must leave both alone, so
  * any changed oracle byte, or any added or lost key, fails here.
  *
  * After an intended registry change, regenerate the resource with
  * `Test/runMain graft.RegistryPinSpec src/test/resources/registry_pin.tsv`
  * and say in the change why the pin moved.
  */
class RegistryPinSpec extends AnyFunSuite {

  private val pinned: Seq[(String, String)] = {
    val src = scala.io.Source.fromResource("registry_pin.tsv")(
      scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty)
      .map { l => val Array(k, h) = l.split("\t"); k -> h }.toList
    finally src.close()
  }

  private val current = RegistryPinSpec.pins

  test("the registered key set is the pinned one") {
    val (now, was) = (current.map(_._1).toSet, pinned.map(_._1).toSet)
    assert(now == was,
      s"added: ${(now -- was).toSeq.sorted.mkString(", ")}; " +
        s"lost: ${(was -- now).toSeq.sorted.mkString(", ")}")
    assert(pinned.map(_._1) == pinned.map(_._1).sorted,
      "the pin resource must list its keys sorted")
  }

  test("every key's oracle SQL hashes to its pinned SHA-256") {
    val pins = pinned.toMap
    val changed = current.collect {
      case (k, h) if pins.get(k).exists(_ != h) => k
    }
    assert(changed.isEmpty,
      s"oracle SQL changed for: ${changed.mkString(", ")}")
  }
}

object RegistryPinSpec {

  /** Sorted `(key, sha256-hex of oracleSql)`; `-` for a key that has
    * no oracle. */
  def pins: Seq[(String, String)] = {
    val oracles = SparkEntry.oracleSql
    (SparkEntry.queries.keySet ++ oracles.keySet).toSeq.sorted.map { k =>
      k -> oracles.get(k).fold("-") { sql =>
        MessageDigest.getInstance("SHA-256").digest(sql.getBytes(UTF_8))
          .map(b => f"${b & 0xff}%02x").mkString
      }
    }
  }

  def main(args: Array[String]): Unit = {
    Files.writeString(Paths.get(args(0)),
      pins.map { case (k, h) => s"$k\t$h\n" }.mkString)
    println(s"wrote ${args(0)}")
  }
}
