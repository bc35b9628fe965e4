package graft.tools

/** One shared child-JVM launcher for every crash-forge fixture
  * (CrawlResumeChild, BridgeCommitChild): C1-only JIT (the children live
  * seconds), the parent's --add-opens/--add-exports harvested so Spark's
  * reflective accesses keep working, combined stdout+stderr returned with
  * the exit code. Factored so the classpath/JVM-flag contract cannot
  * drift between the gates and the kill-matrix specs. */
object ChildJvm {
  def spawn(mainClass: String, args: Seq[String],
      extraJvmArgs: Seq[String] = Nil): (Int, String) = {
    val child = spawnAsync(mainClass, args, extraJvmArgs)
    child.await()
  }

  /** A child process whose output is drained CONTINUOUSLY by a daemon
    * thread from the moment of spawn — a child that boots (and logs)
    * while the parent is busy elsewhere can never block on a full stdout
    * pipe. [[send]] feeds one command line to the child's stdin (the
    * server-mode handshake); [[await]] blocks to exit and returns the
    * collected combined output. */
  final class AsyncChild private[ChildJvm] (proc: Process) {
    private val out = new java.io.ByteArrayOutputStream()
    private val drainer = new Thread(() => {
      val in = proc.getInputStream
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.synchronized(out.write(buf, 0, n))
        n = in.read(buf)
      }
    }, "child-jvm-drain")
    drainer.setDaemon(true)
    drainer.start()

    def send(line: String): Unit = {
      val w = proc.getOutputStream
      w.write((line + "\n").getBytes("UTF-8"))
      w.flush()
    }

    def await(): (Int, String) = {
      val code = proc.waitFor()
      drainer.join(10000)
      (code, out.synchronized(new String(out.toByteArray, "UTF-8")))
    }

    /** Kill the child (a no-op once it has exited) and wait up to 10 s
      * for it to go; true when it has. */
    def destroy(): Boolean =
      proc.destroyForcibly().waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** Start the child NOW and return without waiting: JVM + session boot
    * overlaps whatever the parent does next (guide §2.6 — overlap
    * independent work). */
  def spawnAsync(mainClass: String, args: Seq[String],
      extraJvmArgs: Seq[String] = Nil): AsyncChild = {
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val cmd = (Seq(javaBin, "-Xmx4g", "-XX:TieredStopAtLevel=1") ++ addOpens ++
      extraJvmArgs ++ Seq("-cp", sys.props("java.class.path"), mainClass) ++
      args).toArray
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    new AsyncChild(proc)
  }
}
