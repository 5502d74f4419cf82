package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The program ships exactly four entry points. A one-off measurement
  * `main` belongs in a scratch checkout, not in `src/main`; its numbers
  * go to BASELINE.md.
  */
class EntryPointsSpec extends AnyFunSuite {
  test("src/main defines a main only in Bench, Verify, PlanDump and QueryProfile") {
    val sources = Using.resource(Files.walk(Paths.get("src/main/scala")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    val mains = sources.flatMap { f =>
      val src = Files.readString(f)
      """def main\(|extends App\b""".r.findAllMatchIn(src).map { m =>
        """object\s+(\w+)""".r.findAllMatchIn(src.substring(0, m.start)).toSeq
          .lastOption.map(_.group(1)).getOrElse(s"$f (outside an object)")
      }
    }
    assert(mains.sorted == Seq("Bench", "PlanDump", "QueryProfile", "Verify"))
  }
}
