package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Prints this JVM's scratch dir for key `probe` and exits: the child
  * process of [[ScratchSpec]].
  */
object ScratchExitProbe {
  def main(args: Array[String]): Unit = println(Scratch.fresh("probe"))
}

/** Scratch roots do not outlive their JVM: a JVM's
  * `<base>/graft_scratch_<pid>` is deleted when it exits, and its first
  * scratch dir removes the roots of JVMs that no longer run, never a
  * live one's.
  */
class ScratchSpec extends AnyFunSuite {

  test("a JVM removes dead roots on first use and its own root at exit") {
    val base = Files.createTempDirectory("scratchspec")
    def root(pid: Long): Path = base.resolve(s"graft_scratch_$pid")
    val dead = Files.createDirectories(root(Long.MaxValue).resolve("k"))
    Files.write(dead.resolve("f"), Array[Byte](1))
    val live = Files.createDirectories(
      root(ProcessHandle.current().pid()).resolve("k"))
    val java = Path.of(sys.props("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(java, "-cp", sys.props("java.class.path"),
      "graft.ScratchExitProbe")
    pb.environment().put("GRAFT_SCRATCH_ROOT", base.toString)
    pb.redirectErrorStream(true)
    val child = pb.start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8").trim
    assert(child.waitFor() == 0, out)
    val own = Path.of(out.linesIterator.toSeq.last)
    assert(own.getParent.getParent == base, out)
    assert(!Files.exists(own.getParent), s"child root left behind: $own")
    assert(!Files.exists(root(Long.MaxValue)), "dead root left behind")
    assert(Files.isDirectory(live), "a live JVM's root was removed")
    Files.delete(live); Files.delete(live.getParent); Files.delete(base)
  }
}
