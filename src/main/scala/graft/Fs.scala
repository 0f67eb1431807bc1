package graft

/** Tiny filesystem helpers shared by the query layer and tests. */
object Fs {
  /** Threads of the [[readAll]] pool. */
  private final val ReadParallelism = 16

  /** The JVM-wide metadata-read pool, created on first use and shared by
    * every [[readAll]]: daemon threads (they never hold a JVM open) that
    * retire after a minute idle, so building and shutting down a pool per
    * call never costs more than the reads it runs. */
  private lazy val readPool: java.util.concurrent.ExecutorService = {
    val threads = new java.util.concurrent.atomic.AtomicInteger()
    val pool = new java.util.concurrent.ThreadPoolExecutor(
      ReadParallelism, ReadParallelism, 60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-metadata-read-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** `items.map(read)` on the bounded metadata-read pool, results in
    * `items` order. For per-file metadata (headers, footers): tiny IO,
    * but ~1e5 files read by a serial driver loop are 1e5 sequential
    * storage round trips (SURVEY O9). `read` handles its own per-item
    * errors; one it lets escape is rethrown here. Never call it from
    * inside a `read`: the outer reads could hold every pool thread
    * while the inner ones wait in the queue. */
  def readAll[A, B](items: Seq[A])(read: A => B): Seq[B] =
    items.iterator.map { a =>
      readPool.submit(new java.util.concurrent.Callable[B] { def call(): B = read(a) })
    }.toVector.map { f =>
      try f.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }

  /** A tmpfs base for ephemeral scratch (streaming checkpoints, serving
    * layouts) when the host has one with ample headroom — containers
    * commonly cap /dev/shm at 64 MB, and a filled tmpfs would fail jobs
    * the disk-backed default handles, hence the 4 GiB guard. A `def`, not
    * a `val`: the headroom is re-checked at every call (a cheap FileStore
    * stat), so a tmpfs that fills MID-RUN — other processes, concurrent
    * checkpoint trees — demotes later callers to the disk-backed default
    * instead of failing them on a stale class-load-time answer. */
  def fastTempBase: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    try {
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm) &&
          java.nio.file.Files.getFileStore(shm).getUsableSpace > (4L << 30))
        Some(shm)
      else None
    } catch { case _: Exception => None }
  }
  /** A fresh directory under `java.io.tmpdir`, deleted at JVM exit — for
    * artifacts that live as long as the session (served layouts, saved
    * models, the sf1 probe corpus). Disk-backed, NOT [[fastTempBase]]: a
    * long-lived artifact squatting on tmpfs would eat the headroom the
    * streaming checkpoints re-check per query. */
  def jvmTempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir
  }

  /** Best-effort recursive delete (children before parents); quiet on
    * races — a vanished temp/checkpoint dir is never worth failing a
    * query or a bench run over. */
  def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    try java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(f => java.nio.file.Files.deleteIfExists(f))
    catch { case _: Exception => }
  }
}
