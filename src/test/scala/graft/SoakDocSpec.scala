package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pins the merge-on-write contract of [[SoakDoc]]: a suite that
  * upserts its own section must preserve every other section
  * byte-for-byte — the failure mode this guards against is the round-6
  * partial-run regeneration that silently deleted committed evidence. */
class SoakDocSpec extends AnyFunSuite {

  private def tmp() = Files.createTempFile("graft_soakdoc_", ".md")

  private val prim =
    """# Distributed-primitive soak (regenerated by SoakSpec)
      |
      || primitive | wall s |
      ||---|---|
      || prefixSums (global) | 4.8 |
      |""".stripMargin
  private val cc =
    """## Connected-components fixpoint (regenerated by SoakSpec)
      |
      |19 rounds, bound 20.
      |""".stripMargin
  private val zarr =
    """## Zarr connector soak (regenerated by SoakSpec)
      |
      |80 chunks, sum exact.
      |""".stripMargin

  test("upserting one section preserves the others byte-for-byte") {
    val p = tmp()
    SoakDoc.upsert(p, "Distributed-primitive soak", prim)
    SoakDoc.upsert(p, "Connected-components fixpoint", cc)
    SoakDoc.upsert(p, "Zarr connector soak", zarr)
    val full = Files.readString(p)
    assert(full.contains("prefixSums (global)") && full.contains("19 rounds")
      && full.contains("80 chunks"))

    // the round-6 failure shape: ONLY the primitives suite re-runs
    SoakDoc.upsert(p, "Distributed-primitive soak",
      prim.replace("4.8", "5.1"))
    val after = Files.readString(p)
    assert(after.contains("5.1"), "own section must be replaced")
    assert(SoakDoc.sections(after).filter(_._1 != "Distributed-primitive soak")
      == SoakDoc.sections(full).filter(_._1 != "Distributed-primitive soak"),
      "sibling sections must survive a partial run unchanged")
  }

  test("committed SOAK.md: every soak section carries its calibration ratio") {
    // the field SoakSpec stamps so wall-time swings adjudicate
    // mechanically (machine-normalized wall = wall / ratio) — a
    // section missing it is a soak record that cannot be compared
    // across rounds
    val p = java.nio.file.Paths.get("SOAK.md")
    assume(Files.exists(p), "SOAK.md not yet generated in this checkout")
    val secs = SoakDoc.sections(Files.readString(p))
    assert(secs.nonEmpty)
    val missing = secs.collect {
      case (title, body) if title != SoakDoc.PreambleKey
        && !body.contains("cal ratio") => title
    }
    assert(missing.isEmpty, s"sections without a calibration ratio: $missing")
  }

  test("canonical order holds regardless of which suite ran last") {
    val p = tmp()
    SoakDoc.upsert(p, "Zarr connector soak", zarr)
    SoakDoc.upsert(p, "Distributed-primitive soak", prim)
    SoakDoc.upsert(p, "Connected-components fixpoint", cc)
    val keys = SoakDoc.sections(Files.readString(p)).map(_._1)
    assert(keys == Seq("Distributed-primitive soak",
      "Connected-components fixpoint", "Zarr connector soak"))
  }

  test("upsert into a missing file creates it; unknown names are refused") {
    val p = tmp()
    Files.delete(p)
    SoakDoc.upsert(p, "Connected-components fixpoint", cc)
    assert(Files.readString(p).contains("19 rounds"))
    intercept[IllegalArgumentException] {
      SoakDoc.upsert(p, "Totally new soak", "## Totally new soak\nx\n")
    }
    intercept[IllegalArgumentException] { // body heading must match the name
      SoakDoc.upsert(p, "Zarr connector soak", cc)
    }
  }

  test("content ABOVE the first heading survives an upsert, written first") {
    val p = tmp()
    Files.writeString(p, "hand-written preamble line\n\n" + prim)
    SoakDoc.upsert(p, "Zarr connector soak", zarr)
    val out = Files.readString(p)
    assert(out.startsWith("hand-written preamble line"), out.take(80))
    assert(out.contains("prefixSums (global)") && out.contains("80 chunks"))
  }

  test("unknown sections already in the file are kept, after known ones") {
    val p = tmp()
    Files.writeString(p, prim + "\n## Hand-written appendix\n\nkeep me\n")
    SoakDoc.upsert(p, "Zarr connector soak", zarr)
    val keys = SoakDoc.sections(Files.readString(p)).map(_._1)
    assert(keys == Seq("Distributed-primitive soak", "Zarr connector soak",
      "Hand-written appendix"))
    assert(Files.readString(p).contains("keep me"))
  }
}
