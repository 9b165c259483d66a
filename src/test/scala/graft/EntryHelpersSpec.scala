package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shared-index publish protocol (EntryHelpers.ensureBuilt):
  * atomic build-into-temp + rename, marker short-circuit, and the
  * crash-orphan reclamation — a hard-killed builder's `.build_<target>_*`
  * temp directory is deleted by the NEXT builder of the same target
  * (under that target's lock), while a concurrent sibling target's temp
  * in the same parent is never touched.
  */
class EntryHelpersSpec extends AnyFunSuite {

  test("publish writes the marker inside the target; re-run is a no-op") {
    val parent = Paths.get(Inputs.scratchDir("graft-eh-spec"))
    val target = s"$parent/idx_a"
    var builds = 0
    EntryHelpers.ensureBuilt(target) { tmp =>
      builds += 1
      Files.write(Paths.get(tmp, "payload"), "x".getBytes)
    }
    assert(Files.exists(Paths.get(target, "_GRAFT_OK")))
    assert(Files.exists(Paths.get(target, "payload")))
    EntryHelpers.ensureBuilt(target)(_ => builds += 100)
    assert(builds == 1, "marker short-circuit failed: rebuilt a published index")
  }

  test("crash orphans of THIS target are reclaimed; sibling orphans survive") {
    val parent = Paths.get(Inputs.scratchDir("graft-eh-spec"))
    val target = s"$parent/idx_b"
    // a pre-crash builder of idx_b left a temp dir with content...
    val mine = Files.createDirectories(
      Paths.get(s"$parent/.build_idx_b_deadbeef"))
    Files.write(mine.resolve("junk"), "j".getBytes)
    // ...and some OTHER target's builder is (conceptually) mid-build
    val other = Files.createDirectories(
      Paths.get(s"$parent/.build_idx_c_cafe"))
    Files.write(other.resolve("inflight"), "i".getBytes)
    EntryHelpers.ensureBuilt(target) { tmp =>
      Files.write(Paths.get(tmp, "payload"), "x".getBytes)
    }
    assert(!Files.exists(mine), "orphan temp of this target not reclaimed")
    assert(Files.exists(other.resolve("inflight")),
      "sibling target's in-flight temp was destroyed")
    assert(Files.exists(Paths.get(target, "_GRAFT_OK")))
  }

  test("a sibling target whose name EXTENDS this one is never reclaimed") {
    // the advice case: targets "idx" and "idx_c" in the same parent —
    // ".build_idx_c_cafe" starts with target idx's ".build_idx_" prefix,
    // but its remainder carries the '_' no real temp suffix contains
    val parent = Paths.get(Inputs.scratchDir("graft-eh-spec"))
    val target = s"$parent/idx"
    val nested = Files.createDirectories(
      Paths.get(s"$parent/.build_idx_c_cafe"))
    Files.write(nested.resolve("inflight"), "i".getBytes)
    EntryHelpers.ensureBuilt(target) { tmp =>
      Files.write(Paths.get(tmp, "payload"), "x".getBytes)
    }
    assert(Files.exists(nested.resolve("inflight")),
      "the longer-named target's live temp was reclaimed by the shorter")
    assert(Files.exists(Paths.get(target, "_GRAFT_OK")))
  }

  test("a stale partial at the target (no marker) is replaced, not kept") {
    val parent = Paths.get(Inputs.scratchDir("graft-eh-spec"))
    val target = s"$parent/idx_d"
    Files.createDirectories(Paths.get(target))
    Files.write(Paths.get(target, "stale"), "s".getBytes)
    EntryHelpers.ensureBuilt(target) { tmp =>
      Files.write(Paths.get(tmp, "fresh"), "f".getBytes)
    }
    assert(Files.exists(Paths.get(target, "_GRAFT_OK")))
    assert(Files.exists(Paths.get(target, "fresh")))
    assert(!Files.exists(Paths.get(target, "stale")),
      "pre-crash partial content leaked into the published index")
  }
}
