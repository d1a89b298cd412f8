package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.profile.Flamegraph

/** pprof wire-format decode (google/pprof profile.proto, hand-encoded
  * bytes) — including the gzip path Pyroscope uploads use — and the
  * cross-format guarantee: a pprof upload and the OTLP profile of the
  * same execution produce IDENTICAL flamegraph levels, because both
  * resolve into one dictionary shape and one serializer. */
class PprofSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L

  private def packed(p: Pb, field: Int, vs: Seq[Long]): Unit = {
    val tmp = new Pb
    vs.foreach(tmp.varint)
    p.bytes(field, tmp.result)
  }

  /** the same execution as OtlpProfilesSpec.profilesRequest, as pprof:
    * strings 0:"" 1:samples 2:count 3:cpu 4:nanoseconds 5:main 6:work
    * 7:leaf 8:app.rs 9:thread 10:worker-1. Location 1 = leaf WITH the
    * inline `work` line pair; location 2 = main. Sample stacks are
    * leaf-first; ids are deliberately non-contiguous to prove the
    * id→position re-indexing. */
  private def pprofProfile: Array[Byte] = {
    val p = new Pb
    // sample_type: [samples/count, cpu/nanoseconds] — TWO value columns
    p.msg(1) { vt => vt.vint(1, 1); vt.vint(2, 2) }
    p.msg(1) { vt => vt.vint(1, 3); vt.vint(2, 4) }
    // samples: stack [leaf(id 7), main(id 3)], values (count, nanos)
    p.msg(2) { s => packed(s, 1, Seq(7L, 3L)); packed(s, 2, Seq(1L, 100L))
      s.msg(3) { lb => lb.vint(1, 9); lb.vint(2, 10) } } // thread=worker-1
    p.msg(2) { s => packed(s, 1, Seq(7L, 3L)); packed(s, 2, Seq(1L, 50L)) }
    // mapping id 5 → app.rs
    p.msg(3) { m => m.vint(1, 5); m.vint(5, 8) }
    // location id 7: leaf + inline work; location id 3: main
    p.msg(4) { l =>
      l.vint(1, 7); l.vint(2, 5); l.vint(3, 3735928559L)
      l.msg(4) { ln => ln.vint(1, 21); ln.vint(2, 7); ln.vint(3, 2) }
      l.msg(4) { ln => ln.vint(1, 12); ln.vint(2, 12) }
    }
    p.msg(4)(l => { l.vint(1, 3); l.msg(4)(_.vint(1, 4)) })
    // functions: id 4=main, id 12=work, id 21=leaf(+filename)
    p.msg(5) { f => f.vint(1, 4); f.vint(2, 5) }
    p.msg(5) { f => f.vint(1, 12); f.vint(2, 6) }
    p.msg(5) { f => f.vint(1, 21); f.vint(2, 7); f.vint(4, 8) }
    Seq("", "samples", "count", "cpu", "nanoseconds", "main", "work",
      "leaf", "app.rs", "thread", "worker-1").foreach(p.str(6, _))
    p.vint(9, t0)            // time_nanos
    p.vint(10, 5000000000L)  // duration_nanos
    p.msg(11) { vt => vt.vint(1, 3); vt.vint(2, 4) } // period: cpu/ns
    p.vint(12, 10000000L)
    p.result
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  test("pprof decode: types, stacks, labels, id re-indexing, gzip") {
    val rows = Pprof.decode(gzip(pprofProfile), "svc-a")
    assert(rows.size == 2, "one row per sample type")
    val Seq(cnt, cpu) = rows.sortBy(_.sample_type)
    assert(cpu.sample_type == "samples" || cnt.sample_type == "cpu" ||
      rows.map(_.sample_type).toSet == Set("samples", "cpu"))
    val nanos = rows.find(_.sample_type == "cpu").get
    assert(nanos.sample_unit == "nanoseconds")
    assert(nanos.period_type == "cpu" && nanos.period == 10000000L)
    assert(nanos.timestamp == t0 && nanos.duration_nano == 5000000000L)
    assert(nanos.service_name == "svc-a")

    // one deduped stack, frames leaf-first with the inline expansion
    val fnNames = """"function_name":"(\w+)"""".r
      .findAllMatchIn(nanos.stacktraces_json).map(_.group(1)).toSeq
    assert(fnNames == Seq("leaf", "work", "main"), nanos.stacktraces_json)
    assert(nanos.stacktraces_json.contains(""""filename":"app.rs""""))
    assert(nanos.stacktraces_json.contains(""""mapping_filename":"app.rs""""))
    assert(nanos.stacktraces_json.contains(""""line":7"""))

    // per-type value column; labels surface as sample attributes
    assert(nanos.samples_json.contains(""""stacktrace_index":0,"values":[100]"""))
    assert(nanos.samples_json.contains(""""values":[50]"""))
    assert(nanos.samples_json.contains(""""attributes":{"thread":"worker-1"}"""))
    val counts = rows.find(_.sample_type == "samples").get
    assert(counts.samples_json.contains(""""values":[1]"""))
  }

  test("pprof and OTLP uploads of the same execution yield identical flamegraph levels") {
    import spark.implicits._
    val stacksT = ArrayType(StructType(Seq(StructField("frames",
      ArrayType(StructType(Seq(StructField("function_name", StringType))))))))
    val samplesT = ArrayType(StructType(Seq(
      StructField("stacktrace_index", IntegerType),
      StructField("values", ArrayType(LongType)))))

    def levels(rows: org.apache.spark.sql.DataFrame): (Long, Seq[Seq[Long]]) = {
      val folded = rows.select(col("service_name"),
          from_json(col("stacktraces_json"), stacksT).as("stacks"),
          explode(from_json(col("samples_json"), samplesT)).as("sample"))
        .select(col("service_name"),
          expr("reverse(transform(stacks[sample.stacktrace_index].frames, f -> f.function_name))")
            .as("stack"),
          expr("aggregate(sample.values, 0L, (a, x) -> a + x)").as("value"))
        .select(col("service_name"), col("value"),
          explode(expr(
            "transform(sequence(1, size(stack)), d -> array_join(slice(stack, 1, d), ';'))"))
            .as("path"))
        .groupBy(col("path")).agg(sum(col("value")).as("total"))
      val enc = Flamegraph.encodeFromFold(folded)
      (enc.total, enc.levels)
    }

    val viaPprof = Pprof.profiles(
      Seq((gzip(pprofProfile), "svc-a")).toDF("payload", "service_name"))
      .filter(col("sample_type") === "cpu")
    // the OTLP upload of the same execution (OtlpProfilesSpec fixture)
    val viaOtlp = Otlp.profiles(Seq(otlpEquivalent).toDF("payload"))

    val (pTotal, pLevels) = levels(viaPprof)
    val (oTotal, oLevels) = levels(viaOtlp)
    assert(pTotal == 150L && oTotal == 150L)
    assert(pLevels == oLevels,
      s"pprof and OTLP flamegraphs diverged:\n$pLevels\n$oLevels")
  }

  /** the OTLP v1development encoding of the same execution (mirrors
    * OtlpProfilesSpec.profilesRequest minus link/attrs, which the
    * flamegraph fold ignores). */
  private def otlpEquivalent: Array[Byte] = {
    val req = new Pb
    req.msg(2) { d =>
      d.msg(1)(_ => ())
      d.msg(1)(_.vint(4, 6)) // mapping[1] filename=app.rs
      d.msg(2) { l =>
        l.vint(1, 1); l.vint(2, 3735928559L)
        l.msg(3) { ln => ln.vint(1, 3); ln.vint(2, 7); ln.vint(3, 2) }
        l.msg(3) { ln => ln.vint(1, 2); ln.vint(2, 12) }
      }
      d.msg(2)(_.msg(3)(_.vint(1, 1)))
      d.msg(3)(_ => ())
      d.msg(3)(_.vint(1, 3))
      d.msg(3)(_.vint(1, 4))
      d.msg(3) { f => f.vint(1, 5); f.vint(3, 6) }
      Seq("", "cpu", "nanoseconds", "main", "work", "leaf", "app.rs")
        .foreach(d.str(5, _))
      d.msg(7)(st => packed(st, 1, Seq(0L, 1L)))
    }
    req.msg(1) { rp =>
      rp.msg(1)(r => Pb.kv(r, 1, "service.name", "svc-a"))
      rp.msg(2) { sp =>
        sp.msg(2) { p =>
          p.msg(1) { vt => vt.vint(1, 1); vt.vint(2, 2) }
          p.msg(2) { s => s.vint(1, 0); s.vint(2, 100L) }
          p.msg(2) { s => s.vint(1, 0); packed(s, 2, Seq(50L)) }
          p.vint(3, t0); p.vint(4, 5000000000L)
          p.msg(5) { vt => vt.vint(1, 1); vt.vint(2, 2) }
          p.vint(6, 10000000L)
        }
      }
    }
    req.result
  }
}
