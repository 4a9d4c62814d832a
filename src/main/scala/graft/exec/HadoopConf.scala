package graft.exec

import org.apache.hadoop.conf.Configuration

/** The one place the engine builds a Hadoop `Configuration`.
  *
  * A fresh `new Configuration()` parses `core-default.xml` (and any
  * `core-site.xml`) again on its first read — about 5 ms warm on a 4-vCPU
  * x86 VM, paid by the first FileOps verb of every task, since each task
  * deserializes its own FileOps. Copying an already-loaded instance costs
  * about 0.2 ms there.
  * So each JVM loads the defaults once (lazily, on first use: on a
  * cluster that is once per executor, nothing is shared with the driver)
  * and every caller gets its own copy with its extras applied.
  *
  * Callers still resolve their FileSystem with `Path.getFileSystem(conf)`,
  * so Hadoop's FileSystem cache — and with it one credential fetch per
  * (JVM, account) — works as before. The copies are never memoized per
  * extras map: that cache would grow without bound and hand the same
  * mutable instance to unrelated callers.
  */
object HadoopConf {

  // the copy constructor loads this instance's resources on first use;
  // every later copy clones the parsed properties
  private lazy val defaults = new Configuration()

  /** a private Configuration: the JVM's loaded defaults plus `extra` */
  def apply(extra: Map[String, String] = Map.empty): Configuration = {
    val c = new Configuration(defaults)
    // resolve classes (`fs.<scheme>.impl`, token providers) through the
    // caller's loader, as `new Configuration()` in this thread would
    Option(Thread.currentThread.getContextClassLoader).foreach(c.setClassLoader)
    extra.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
