package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * The engine targets multi-executor clusters; tests run `local[N]`.
  * Defaults chosen for 100 TB readiness:
  *  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  *  - shuffle partitions sized to cores locally (clusters override via
  *    `spark.sql.adaptive.coalescePartitions` + explicit conf)
  *  - UTC session timezone so date/time semantics are deployment-invariant
  */
object GraftSession {

  /** Scratch directory for shuffle blocks and checkpoint spill.
    * Thread-dump profiling showed the engine file-METADATA-bound on
    * its many small shuffles (FileOutputStream.open / mmap / unmap was
    * ~80% of runnable executor samples): this host's /tmp (ext4 on
    * virtio) costs ~0.22 ms per file create+delete, tmpfs ~0.01 ms.
    * Use the RAM-backed dir when present — the standard "fast local
    * disks for spark.local.dir" deployment guidance, applied to a
    * RAM-rich single node; a cluster sets SPARK_LOCAL_DIRS to its
    * NVMe scratch instead and this default never engages.
    */
  /** tmpfs is only the default when it has real headroom: shuffle
    * blocks and spill files on tmpfs consume RAM (typically capped at
    * 50% of it), so on a RAM-tight host a big shuffle would hit ENOSPC
    * or worsen OOM pressure where disk-backed /tmp succeeds. 16 GiB
    * usable is far above anything the bench/verify workloads write and
    * far below the cap on any host where the default makes sense.
    */
  private val MinShmUsableBytes = 16L << 30

  def fastLocalDir: String =
    sys.env.getOrElse("SPARK_LOCAL_DIRS", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= MinShmUsableBytes) {
        val root = new java.io.File(shm, "graft_spark_local")
        // a crashed JVM leaks its scratch in RAM until reboot: each JVM
        // works under its own <pid> subdir, and the dirs of JVMs that
        // are gone are swept
        sweepDeadOwners(root)
        val d = new java.io.File(root, ProcessHandle.current().pid.toString)
        d.mkdirs()
        d.getAbsolutePath
      } else System.getProperty("java.io.tmpdir", "/tmp")
    })

  /** Delete the `<pid>` subdirs of `root` whose process is no longer
    * running. Only the owner's liveness counts, never a dir's age: a
    * long session's top-level mtime stops moving while it still writes
    * deeper down. Entries not named by a pid are left alone. A pid is
    * only meaningful in this PID namespace, so `root` must not be shared
    * with JVMs in other containers.
    */
  private[graft] def sweepDeadOwners(root: java.io.File): Unit =
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      val pid = Some(f.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).flatMap(_.toLongOption)
      if (f.isDirectory && pid.exists(p => !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false)))
        deleteRecursively(f)
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Build or reuse a session. `master` defaults to the env/driver-provided
    * setting; callers inside Verify/Bench pass their own.
    */
  def create(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
             shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
             appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate falls back to SORT-BASED aggregation after
      // 128 distinct keys per task (the Spark default) - pathological for
      // this engine, whose collect_list/collect_set/top-k aggregates
      // routinely see 10^4-10^5 bounded-size groups per task. 2^17
      // entries of bounded per-group state (<= a few hundred bytes each)
      // is tens of MB per task at ANY scale factor or cluster size; the
      // fallback still protects truly unbounded group counts.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      // Tiny iterative shuffles write R files PER MAP TASK on the
      // bypass-merge path (default threshold 200 covers every reduce
      // count this engine's fixpoint loops use); jstack sampling showed
      // loop tasks inside BypassMergeSortShuffleWriter stream setup,
      // not compute. Threshold 2 routes them to the serialized
      // (Unsafe) writer: ONE file + index per map task. Shuffles with
      // > 200 reducers (any real-scale exchange) never used bypass, so
      // the setting is inert at cluster scale.
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.local.dir", GraftSession.fastLocalDir)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
