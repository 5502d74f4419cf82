package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The program ships exactly four entry points. A one-off measurement
  * `main` belongs in a scratch checkout, not in `src/main`; its numbers
  * go to BASELINE.md. And every ingest commits through one micro-batch
  * frame: no other file opens a foreachBatch sink or repeats a step of
  * its replay-safety protocol.
  */
class EntryPointsSpec extends AnyFunSuite {
  private lazy val sources = Using.resource(Files.walk(Paths.get("src/main/scala")))(
    _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)

  test("src/main defines a main only in Bench, Verify, PlanDump and QueryProfile") {
    val mains = sources.flatMap { f =>
      val src = Files.readString(f)
      """def main\(|extends App\b""".r.findAllMatchIn(src).map { m =>
        """object\s+(\w+)""".r.findAllMatchIn(src.substring(0, m.start)).toSeq
          .lastOption.map(_.group(1)).getOrElse(s"$f (outside an object)")
      }
    }
    assert(mains.sorted == Seq("Bench", "PlanDump", "QueryProfile", "Verify"))
  }

  test("the micro-batch commit protocol is called only from BatchCommit, DirSwap and Lease") {
    val frame = Set("BatchCommit.scala", "DirSwap.scala", "Lease.scala")
    val protocol = """\bforeachBatch\b|\bLease\.check\b|\brequireIntact\b|\brecordFolded\b|\bmarkComplete\b""".r
    val calls = for {
      f <- sources if !frame(f.getFileName.toString)
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
      m <- protocol.findFirstIn(code.split("//").head)
    } yield s"$f:${n + 1}: $m"
    assert(calls.isEmpty, calls.mkString("\n"))
  }
}
