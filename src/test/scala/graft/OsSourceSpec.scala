package graft

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

import graft.sources.{JournalExport, Kmsg, Pacct}

/** OS-format sources: Linux process accounting (acct_v3 binary records,
  * reference modules/pacctformat) and the systemd journal export format
  * (reference modules/systemd-journal field mapping).
  */
class OsSourceSpec extends SparkSpec {
  import spark.implicits._

  private def acctV3(flag: Int, tty: Int, exitcode: Long, uid: Long, gid: Long,
      pid: Long, ppid: Long, btime: Long, etime: Float,
      utime: Int, stime: Int, mem: Int, comm: String,
      version: Int = 3): Array[Byte] = {
    val b = ByteBuffer.allocate(Pacct.RecordSize).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0, flag.toByte); b.put(1, version.toByte)
    b.putShort(2, tty.toShort)
    b.putInt(4, exitcode.toInt); b.putInt(8, uid.toInt); b.putInt(12, gid.toInt)
    b.putInt(16, pid.toInt); b.putInt(20, ppid.toInt); b.putInt(24, btime.toInt)
    b.putFloat(28, etime)
    b.putShort(32, utime.toShort); b.putShort(34, stime.toShort)
    b.putShort(36, mem.toShort)
    val cb = comm.getBytes("UTF-8")
    (0 until math.min(cb.length, 16)).foreach(i => b.put(48 + i, cb(i)))
    b.array()
  }

  test("pacct: acct_v3 records decode with reference renderings (comp_t, %02x flag, %9.2f etime)") {
    // comp_t 0x2005: mantissa 5, exponent 1 → 5 << 3 = 40
    val rec = acctV3(flag = 0x02, tty = 1024, exitcode = 0, uid = 1000, gid = 100,
      pid = 4242, ppid = 1, btime = 1700000000L, etime = 12.5f,
      utime = 0x2005, stime = 7, mem = 0x4001, comm = "bash")
    val bad = acctV3(0, 0, 0, 0, 0, 0, 0, 0, 0f, 0, 0, 0, "x", version = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-pacct")
    java.nio.file.Files.write(dir.resolve("pacct"), rec ++ bad ++ Array[Byte](1, 2, 3))

    val rows = Pacct.read(spark, s"$dir/pacct").collect()
    assert(rows.length === 3)
    val ok = rows.filter(_.getBoolean(0))
    assert(ok.length === 1)
    val r = Pacct.read(spark, s"$dir/pacct").where(col("ok"))
      .select("ac_flag", "ac_tty", "ac_uid", "ac_pid", "ac_btime", "ac_etime",
        "ac_utime", "ac_stime", "ac_mem", "ac_comm").head()
    assert(r.getString(0) === "02")
    assert(r.getInt(1) === 1024 && r.getLong(2) === 1000L && r.getLong(3) === 4242L)
    // reference quirk: comp_t decode applied to the u32 btime
    val expBtime = ((1700000000L & 0x1fff) << (((1700000000L >> 13) & 7) * 3))
    assert(r.getString(4) === s"$expBtime.00")
    assert(r.getString(5) === "    12.50") // %9.2f: width 9
    assert(r.getString(6) === "40.00" && r.getString(7) === "7.00")
    assert(r.getLong(8) === (1L << 6)) // 0x4001: mantissa 1, exponent 2 → 1 << 6
    assert(r.getString(9) === "bash")
    // v2 record → reference error-message row; trailing bytes → truncated row
    val errs = Pacct.read(spark, s"$dir/pacct").where(!col("ok"))
      .select("error").as[String].collect().toSeq
    assert(errs.exists(_.contains("only the v3 format is supported; version='2'")))
    assert(errs.exists(_.contains("truncated pacct record: 3 trailing bytes")))
  }

  test("kmsg format: header, continuation keys, DEVICE sigil decode (linux-kmsg-format.c)") {
    import graft.sources.Kmsg
    val text =
      "6,802,65338577;ATL1E 0000:02:00.0: eth0: NIC Link is Up\n" +
        " SUBSYSTEM=pci\n" +
        " DEVICE=+pci:0000:02:00.0\n" +
        "7,803,65339000,-;block dev event\n" +
        " DEVICE=b8:1\n" +
        "4,804,65340000;netdev event\n" +
        " DEVICE=n2\n" +
        "not a kmsg header\n"
    val boot = 1700000000000000L // epoch usec of boot
    val df = Seq(Tuple1(text.getBytes("UTF-8"))).toDF("content")
    val rows = Kmsg.parseFiles(df, col("content"), boot)
    assert(rows.count() === 4)
    val r1 = rows.where(col("seqid") === "802")
      .select("pri", "boot_usec", "msg", "fields", "dev_type", "dev_name", "ts").head()
    assert(r1.getInt(0) === 6 && r1.getLong(1) === 65338577L)
    assert(r1.getString(2) === "ATL1E 0000:02:00.0: eth0: NIC Link is Up")
    assert(r1.getMap[String, String](3)(".linux.SUBSYSTEM") === "pci")
    assert(r1.getString(4) === "pci" && r1.getString(5) === "0000:02:00.0")
    assert(r1.getTimestamp(6).getTime === (boot + 65338577L) / 1000L)
    val r2 = rows.where(col("seqid") === "803")
      .select("dev_type", "dev_major", "dev_minor").head()
    assert(r2.toSeq === Seq("block", "8", "1")) // trailing flags field tolerated
    val r3 = rows.where(col("seqid") === "804").select("dev_type", "dev_index").head()
    assert(r3.toSeq === Seq("netdev", "2"))
    val bad = rows.where(!col("ok")).select("msg").head()
    assert(bad.getString(0) === "not a kmsg header")
  }

  test("file decoders run as one parse Generate each, output schema unchanged") {
    val files = Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("content")
    val pacct = Pacct.parseFiles(files, col("content"))
    val kmsg = Kmsg.parseFiles(files, col("content"), 0L)
    val journal = JournalExport.parseFiles(files, col("content"))
    assertRowStagePath(pacct, "pacct")
    assertRowStagePath(kmsg, "kmsg")
    assertRowStagePath(journal, "journal export")
    assert(pacct.schema === Pacct.schema.add(StructField("ac_comm", StringType, nullable = true)))
    assert(kmsg.schema === Kmsg.schema)
    assert(journal.schema === JournalExport.schema)
  }

  test("journal export format: entries, binary fields, reference field mapping") {
    val textPart =
      ("__REALTIME_TIMESTAMP=1700000000123456\n" +
        "PRIORITY=3\nSYSLOG_FACILITY=4\n" +
        "_HOSTNAME=web01\n_PID=777\nSYSLOG_IDENTIFIER=sshd\n" +
        "MESSAGE=accepted publickey\n\n" +
        // entry 2: binary MESSAGE (embedded newline), no identifier → _COMM
        "_COMM=kernel\nMESSAGE\n").getBytes("UTF-8")
    val binVal = "line one\nline two".getBytes("UTF-8")
    val lenLe = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(binVal.length.toLong); b.array()
    }
    val bytes = textPart ++ lenLe ++ binVal ++ "\n\n".getBytes("UTF-8")

    val es = JournalExport.entries(bytes)
    assert(es.length === 2)
    val df = JournalExport.parseFiles(Seq(Tuple1(bytes)).toDF("content"), col("content"))
    val r1 = df.where(col("pid") === "777")
      .select("pri", "host", "prog", "msg", "ts", "fields").head()
    assert(r1.getInt(0) === (4 * 8 + 3)) // SYSLOG_FACILITY<<3 | PRIORITY
    assert(r1.getString(1) === "web01" && r1.getString(2) === "sshd")
    assert(r1.getString(3) === "accepted publickey")
    assert(r1.getTimestamp(4).getTime === 1700000000123L)
    assert(r1.getMap[String, String](5)(".journald.SYSLOG_IDENTIFIER") === "sshd")
    val r2 = df.where(col("prog") === "kernel").select("msg", "pri").head()
    assert(r2.getString(0) === "line one\nline two") // binary field decoded
    assert(r2.getInt(1) === JournalExport.DefaultPri) // local0.notice default
    // max-field-size truncation (reference value_len MIN)
    val truncated = JournalExport.entries(bytes, maxFieldSize = 4)
    assert(truncated.head("MESSAGE") === "acce")
  }
}
