package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.profile.Flamegraph

/** OTLP profiles decode (v1development dictionary revision — see the
  * field-number pin in Otlp.decodeProfilesRequest) against independently
  * hand-encoded wire bytes, plus the acceptor→flamegraph e2e: ingested
  * rows drive the same relational prefix fold + levels encoding the
  * Pyroscope surface serves. */
class OtlpProfilesSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.session

  private val t0 = 1704067200L * 1000000000L

  /** packed repeated varints as one length-delimited field. */
  private def packed(p: Pb, field: Int, vs: Seq[Long]): Unit = {
    val tmp = new Pb
    vs.foreach(tmp.varint)
    p.bytes(field, tmp.result)
  }

  /** the request: dictionary with strings/functions/locations/mappings/
    * links/attributes/stacks; one resource (svc-a) with one profile of
    * two samples over one deduped stack. Strings:
    * 0:"" 1:cpu 2:nanoseconds 3:main 4:work 5:leaf 6:app.rs 7:thread. */
  private def profilesRequest: Array[Byte] = {
    val req = new Pb

    req.msg(2) { d => // ProfilesDictionary
      // mapping_table: [null, {filename=app.rs}]
      d.msg(1)(_ => ())
      d.msg(1)(_.vint(4, 6))
      // location_table[0]: leaf location with an INLINED line pair
      d.msg(2) { l =>
        l.vint(1, 1) // mapping_index = 1
        l.vint(2, 3735928559L) // address
        l.msg(3) { ln => ln.vint(1, 3); ln.vint(2, 7); ln.vint(3, 2) } // leaf
        l.msg(3) { ln => ln.vint(1, 2); ln.vint(2, 12) } // work (inline parent)
      }
      // location_table[1]: main
      d.msg(2)(_.msg(3)(_.vint(1, 1)))
      // function_table: [null, main, work, leaf(+filename)]
      d.msg(3)(_ => ())
      d.msg(3)(_.vint(1, 3))
      d.msg(3)(_.vint(1, 4))
      d.msg(3) { f => f.vint(1, 5); f.vint(3, 6) }
      // link_table: [null, {trace, span}]
      d.msg(4)(_ => ())
      d.msg(4) { lk =>
        lk.bytes(1, Array.tabulate[Byte](16)(_.toByte))
        lk.bytes(2, Array.tabulate[Byte](8)(i => (i + 16).toByte))
      }
      // string_table
      Seq("", "cpu", "nanoseconds", "main", "work", "leaf", "app.rs", "thread")
        .foreach(d.str(5, _))
      // attribute_table: [null, thread=worker-1]
      d.msg(6)(_ => ())
      d.msg(6) { kv => kv.vint(1, 7); kv.msg(2)(_.str(1, "worker-1")) }
      // stack_table[0]: [loc0, loc1] leaf-first (packed)
      d.msg(7)(st => packed(st, 1, Seq(0L, 1L)))
    }

    req.msg(1) { rp => // ResourceProfiles
      rp.msg(1)(r => Pb.kv(r, 1, "service.name", "svc-a"))
      rp.msg(2) { sp => // ScopeProfiles
        sp.msg(2) { p => // Profile
          p.msg(1) { vt => vt.vint(1, 1); vt.vint(2, 2) } // cpu/nanoseconds
          // sample 1: values unpacked, link + attribute
          p.msg(2) { s =>
            s.vint(1, 0) // stack_index
            s.vint(2, 100L)
            packed(s, 3, Seq(1L))
            s.vint(4, 1) // link_index
          }
          // sample 2: same stack (dedup), packed values + timestamps
          p.msg(2) { s =>
            s.vint(1, 0)
            packed(s, 2, Seq(50L))
            packed(s, 5, Seq(t0 + 1L))
          }
          p.vint(3, t0)              // time_unix_nano
          p.vint(4, 5000000000L)     // duration_nano
          p.msg(5) { vt => vt.vint(1, 1); vt.vint(2, 2) } // period type
          p.vint(6, 10000000L)       // period
          p.bytes(8, Array.tabulate[Byte](16)(i => (i + 32).toByte))
        }
      }
    }
    req.result
  }

  test("dictionary resolution: strings, inlined frames, links, sample dedup") {
    val rows = Otlp.decodeProfilesRequest(profilesRequest)
    assert(rows.size == 1)
    val r = rows.head
    assert(r.service_name == "svc-a")
    assert(r.sample_type == "cpu" && r.sample_unit == "nanoseconds")
    assert(r.period_type == "cpu" && r.period == 10000000L)
    assert(r.timestamp == t0 && r.duration_nano == 5000000000L)
    assert(r.profile_id == (32 until 48).map(i => f"$i%02x").mkString)
    // first span link lifted to dedicated columns
    assert(r.trace_id == (0 until 16).map(i => f"$i%02x").mkString)
    assert(r.span_id == (16 until 24).map(i => f"$i%02x").mkString)

    // ONE deduped stack; leaf-first frames; the inlined location expands
    // to two frames (leaf with file/line/col, then its inline parent)
    val stacks = r.stacktraces_json
    assert(stacks.startsWith("""[{"frames":["""))
    val fnNames = """"function_name":"(\w+)"""".r
      .findAllMatchIn(stacks).map(_.group(1)).toSeq
    assert(fnNames == Seq("leaf", "work", "main"), s"got $fnNames in $stacks")
    assert(stacks.contains(""""filename":"app.rs""""))
    assert(stacks.contains(""""line":7""") && stacks.contains(""""column":2"""))
    assert(stacks.contains(""""mapping_filename":"app.rs""""))
    assert(stacks.contains(""""address":3735928559"""))

    // samples: both reference local stack 0; link/attrs only where sent
    assert(r.samples_json.contains(""""stacktrace_index":0,"values":[100]"""))
    assert(r.samples_json.contains(""""values":[50]"""))
    assert(r.samples_json.contains(""""link_index":0"""))
    assert(r.samples_json.contains(""""attributes":{"thread":"worker-1"}"""))
    assert(r.samples_json.contains(""""timestamps_unix_nano":[${t0 + 1}]""".replace("${t0 + 1}", (t0 + 1).toString)))
  }

  test("acceptor to flamegraph levels: ingested rows drive the q62 fold") {
    import spark.implicits._
    val payloads = Seq(profilesRequest).toDF("payload")
    val rows = Otlp.profiles(payloads)

    val stacksT = ArrayType(StructType(Seq(StructField("frames",
      ArrayType(StructType(Seq(StructField("function_name", StringType))))))))
    val samplesT = ArrayType(StructType(Seq(
      StructField("stacktrace_index", IntegerType),
      StructField("values", ArrayType(LongType)))))

    // sample → its stack, root-first, weighted by the sample value sum —
    // the same relational prefix fold as ProfileOps q62
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
    assert(enc.total == 150L)
    assert(enc.names.head == "main")
    // depth 0: one root bar [delta 0, total 150, self 0, idx(main)]
    assert(enc.levels.head == Seq(0L, 150L, 0L, 0L))
    // deepest level is the leaf with full weight
    assert(enc.levels.last == Seq(0L, 150L, 150L, enc.names.indexOf("leaf").toLong))
  }
}
