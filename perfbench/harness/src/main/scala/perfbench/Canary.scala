package perfbench

import java.util.concurrent.{Callable, Executors, ThreadFactory}

/** Fixed CPU kernel that measures how much CPU the machine gives right
  * now. One slice runs an xorshift loop with random reads over a 256 KB
  * array, which stays in each core's cache, on `threads` threads at once.
  * Each thread times its own loop and the slice is the median of those
  * times: one thread that shares its core with a short-lived thread does
  * not move it, while load that slows every core (other tenants, frequency
  * changes) does. The kernel allocates nothing after construction.
  */
final class Canary(threads: Int) {
  // small enough to stay in cache: a larger array makes the kernel measure
  // memory latency, which swings from second to second on a virtual machine
  // without the program following it (see README, Canary)
  private val words = 32 << 10 // 32 Ki longs = 256 KB
  private val mask = words - 1
  private val steps = 1 << 20
  private val data = Array.tabulate(words)(i => i * 0x9E3779B97F4A7C15L)
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-canary")
      t.setDaemon(true)
      t
    }
  })
  @volatile private var sink = 0L

  private def kernel(seed: Long): Long = {
    var x = seed * 0x2545F4914F6CDD1DL | 1L
    var acc = 0L
    var i = 0
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += data((x & mask).toInt) ^ x
      i += 1
    }
    acc
  }

  def slice(): Double = {
    val futures = (1 to threads).map { t =>
      pool.submit(new Callable[Double] {
        def call(): Double = {
          val t0 = System.nanoTime()
          sink ^= kernel(t)
          (System.nanoTime() - t0) / 1e9
        }
      })
    }
    val times = futures.map(_.get()).sorted
    (times((threads - 1) / 2) + times(threads / 2)) / 2
  }

  def close(): Unit = pool.shutdownNow()
}

/** Canary readings in a JVM of their own, so that nothing the program
  * leaves behind (its heap, its caches) can move them. The JVM stays up for
  * a whole benchmark run and takes readings when asked, while the program's
  * JVM is stopped (see run.py).
  *
  * Arguments: threads, warm-up slices. Then reads one slice count per line
  * from standard input and answers each with that many slice times in
  * seconds, one JSON list on one line. Ends at end of input.
  */
object Canary {
  def main(args: Array[String]): Unit = {
    val Array(threads, warm) = args.map(_.toInt)
    val canary = new Canary(threads)
    for (_ <- 1 to warm) canary.slice()
    Iterator.continually(scala.io.StdIn.readLine()).takeWhile(_ != null).foreach { line =>
      val times = Seq.fill(line.trim.toInt)(canary.slice())
      println(times.mkString("[", ", ", "]"))
      System.out.flush()
    }
    canary.close()
  }
}
