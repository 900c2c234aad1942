package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked test JVM). */
object SparkSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    // Every broadcast hash relation allocates one Tungsten page on the
    // driver, sized from the heap (64 MB at -Xmx7g) and held in the block
    // store until the broadcast is cleaned. The suites broadcast hundreds of
    // few-row change sets, and 8 forked test JVMs share one host's memory:
    // on a 4-core, 16 GB host a 2 MB page cut the summed peak RSS of three
    // concurrent groups (-Xmx7g each) from 9.4 to 6.8 GB.
    // Records larger than a page still get a page of their own.
    .config("spark.buffer.pageSize", "2m")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // match the runtime posture: bucketed index scans keep bucket pruning
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    // match Bench.scala: the FileContext-based default forks a process per
    // checkpoint temp-file create/rename on local filesystems
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
    // match Bench.scala: local file creates without fork/exec chmod
    .config("spark.hadoop.fs.file.impl",
      "graft.fs.NoChmodLocalFileSystem")
    .getOrCreate()
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
}
