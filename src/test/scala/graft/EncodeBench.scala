package graft

import graft.functions.ImageOps

/** Encoder contention microbench: `sbt "Test/runMain graft.EncodeBench"`.
  * Prints one JSON line per (op, threads) with the op's rate per second. */
object EncodeBench {
  def run(name: String, threads: Int, perThread: Int)(work: Int => Unit): Unit = {
    val (_, sec) = Drive.timed(name) {
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var i = 0
          while (i < perThread) { work(t * perThread + i); i += 1 }
        })
        th.start(); th
      }
      ts.foreach(_.join())
    }
    Drive.report("encode-bench", "op" -> name, "threads" -> threads,
      "rate" -> threads * perThread / sec)
  }

  def main(args: Array[String]): Unit = {
    val px = ImageOps.synthPixels(3, 48, 32)
    val gx = ImageOps.toGray(px)
    // warmup
    run("warm", 4, 300)(i => ImageOps.encode(px, 48, 32, "png"))
    for (t <- Seq(1, 8, 32)) {
      run("synth", t, 3000)(i => ImageOps.synthPixels(i % 512, 48, 32))
      run("png", t, 2000)(i => ImageOps.encode(px, 48, 32, "png"))
      run("jpeg", t, 2000)(i => ImageOps.encode(gx, 48, 32, "jpeg"))
    }
  }
}
