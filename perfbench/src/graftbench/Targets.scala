package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.sparkproject.connect.protobuf.{ByteString, DynamicMessage}

import graft.model.SumRecord
import graft.oracle.{CanonicalOracles, OracleCompiler, OracleRegistry, Payload}
import graft.service.{SumGrpcClient, SumGrpcServer, SumProto, SumService}
import graft.store.RecordStore

/** The outcome of one request, in the same shape whichever layer served
  * it. `json` is the opened `Run` result; the byte counts are set only
  * where a wire exists.
  */
final case class Res(ok: Boolean, msg: String, records: Seq[SumRecord] = Nil,
    total: Long = -1L, json: String = null, compressed: Boolean = false,
    reqBytes: Int = 0, respBytes: Int = 0)

/** One serving stack entered at a chosen layer: over gRPC
  * ([[GrpcTarget]]), on the `SumService` facade ([[ServiceTarget]]), or on
  * `RecordStore` / `OracleRegistry` directly ([[StoreTarget]]). Replaying
  * one request sequence against all three splits a request's time into
  * wire, facade and store/oracle parts.
  */
sealed abstract class Target(val service: SumService) {
  /** One handle per client thread; handles of one target share a store. */
  def client(): Client

  /** Loads the records through the facade's batch insert
    * (`CreateRecordsWithId`), or the store's for [[StoreTarget]]: set-up,
    * not a measured request.
    */
  def preload(rs: Seq[SumRecord]): Res = {
    val r = service.createRecordsWithId(rs)
    Res(r.success, r.msg)
  }

  def close(): Unit = service.store.close()
}

trait Client {
  def createOracle(name: String, code: String): Long
  def findOracle(name: String): Long
  def create(r: SumRecord): Res
  def read(id: Long): Res
  def update(r: SumRecord): Res
  def delete(id: Long): Res
  def list(page: Long, perPage: Long): Res
  def find(key: String, value: String): Res
  def run(oracleId: Long, args: Seq[String]): Res
  /** Record count as `Info` reports it. */
  def records(): Long
  def close(): Unit = ()
}

object Target {
  val Modes: Seq[String] = Seq("grpc", "service", "store")

  def apply(mode: String, spark: SparkSession): Target = {
    val reg = new OracleRegistry
    CanonicalOracles.registerAll(reg)
    val service = new SumService(spark, RecordStore.empty(spark), reg)
    mode match {
      case "grpc"    => new GrpcTarget(service)
      case "service" => new ServiceTarget(service)
      case "store"   => new StoreTarget(service)
    }
  }
}

final class GrpcTarget(service: SumService) extends Target(service) {
  private val server = new SumGrpcServer(service)
  server.start()

  def client(): Client = new Client {
    private val c = new SumGrpcClient("127.0.0.1", server.boundPort)
    private def d(name: String) = SumProto.descriptor(name)
    private def field(m: DynamicMessage, f: String): AnyRef =
      m.getField(m.getDescriptorForType.findFieldByName(f))
    private def ok(m: DynamicMessage) = field(m, "success").asInstanceOf[Boolean]
    private def msg(m: DynamicMessage) = field(m, "msg").asInstanceOf[String]
    private def recs(m: DynamicMessage, f: String): Seq[SumRecord] =
      field(m, f).asInstanceOf[java.util.List[_]].asScala.toSeq
        .map(x => SumProto.protoToRecord(x.asInstanceOf[DynamicMessage]))

    private def call(rpc: String, req: DynamicMessage)(
        f: DynamicMessage => Res): Res = {
      val resp = c.call(rpc, req)
      f(resp).copy(reqBytes = req.getSerializedSize, respBytes = resp.getSerializedSize)
    }
    private def recordCall(rpc: String, req: DynamicMessage): Res =
      call(rpc, req) { m =>
        val rec = m.getDescriptorForType.findFieldByName("record")
        Res(ok(m), msg(m),
          if (m.hasField(rec)) Seq(SumProto.protoToRecord(
            m.getField(rec).asInstanceOf[DynamicMessage])) else Nil)
      }
    private def byId(id: Long) = c.newMessage("ById")
      .setField(d("ById").findFieldByName("id"), java.lang.Long.valueOf(id)).build()

    def createOracle(name: String, code: String): Long = {
      val od = d("Oracle")
      val resp = c.call("CreateOracle", c.newMessage("Oracle")
        .setField(od.findFieldByName("name"), name)
        .setField(od.findFieldByName("code"), code).build())
      require(ok(resp), s"CreateOracle failed: ${msg(resp)}")
      SumProto.getLong(field(resp, "oracle").asInstanceOf[DynamicMessage], "id")
    }
    def findOracle(name: String): Long = {
      val resp = c.call("FindOracle", c.newMessage("ByName")
        .setField(d("ByName").findFieldByName("name"), name).build())
      require(ok(resp), s"FindOracle failed: ${msg(resp)}")
      SumProto.getLong(field(resp, "oracle").asInstanceOf[DynamicMessage], "id")
    }
    def create(r: SumRecord): Res = recordCall("CreateRecord", SumProto.recordToProto(r))
    def read(id: Long): Res = recordCall("ReadRecord", byId(id))
    def update(r: SumRecord): Res = recordCall("UpdateRecord", SumProto.recordToProto(r))
    def delete(id: Long): Res = recordCall("DeleteRecord", byId(id))
    def list(page: Long, perPage: Long): Res = {
      val ld = d("ListRequest")
      call("ListRecords", c.newMessage("ListRequest")
        .setField(ld.findFieldByName("page"), java.lang.Long.valueOf(page))
        .setField(ld.findFieldByName("per_page"), java.lang.Long.valueOf(perPage))
        .build()) { m =>
        Res(ok = true, "", recs(m, "records"), total = SumProto.getLong(m, "total"))
      }
    }
    def find(key: String, value: String): Res = {
      val md = d("ByMeta")
      call("FindRecords", c.newMessage("ByMeta")
        .setField(md.findFieldByName("meta"), key)
        .setField(md.findFieldByName("value"), value).build()) { m =>
        Res(ok(m), msg(m), recs(m, "records"))
      }
    }
    def run(oracleId: Long, args: Seq[String]): Res = {
      val cd = d("Call")
      val b = c.newMessage("Call")
        .setField(cd.findFieldByName("oracle_id"), java.lang.Long.valueOf(oracleId))
      args.foreach(a => b.addRepeatedField(cd.findFieldByName("args"), a))
      call("Run", b.build()) { m =>
        val dataF = m.getDescriptorForType.findFieldByName("data")
        if (!ok(m) || !m.hasField(dataF)) Res(ok = false, msg(m))
        else {
          val data = m.getField(dataF).asInstanceOf[DynamicMessage]
          val env = Payload.Envelope(
            field(data, "compressed").asInstanceOf[Boolean],
            field(data, "payload").asInstanceOf[ByteString].toByteArray)
          Res(ok = true, "", json = Payload.openString(env), compressed = env.compressed)
        }
      }
    }
    def records(): Long =
      SumProto.getLong(c.call("Info", c.newMessage("Empty").build()), "records")
    override def close(): Unit = c.close()
  }

  override def close(): Unit = { server.stop(); super.close() }
}

final class ServiceTarget(service: SumService) extends Target(service) {
  def client(): Client = new Client {
    private def rec(r: graft.service.RecordResponse) = Res(r.success, r.msg, r.record.toSeq)
    def createOracle(name: String, code: String): Long = {
      val o = OracleCompiler.compile(service.spark, name, code)
        .fold(e => throw new IllegalStateException(e), identity)
      service.createOracle(o).oracle.get.id
    }
    def findOracle(name: String): Long = service.findOracle(name).oracle.get.id
    def create(r: SumRecord): Res = rec(service.createRecord(r))
    def read(id: Long): Res = rec(service.readRecord(id))
    def update(r: SumRecord): Res = rec(service.updateRecord(r))
    def delete(id: Long): Res = rec(service.deleteRecord(id))
    def list(page: Long, perPage: Long): Res = {
      val p = service.listRecords(page, perPage)
      Res(ok = true, "", p.records, total = p.total)
    }
    def find(key: String, value: String): Res = {
      val f = service.findRecords(key, value)
      Res(f.success, f.msg, f.records)
    }
    def run(oracleId: Long, args: Seq[String]): Res = {
      val r = service.run(oracleId, args)
      r.data.fold(Res(ok = false, r.msg))(env =>
        Res(r.success, r.msg, json = Payload.openString(env), compressed = env.compressed))
    }
    def records(): Long = service.info().records
  }

}

/** Below the facade: the store and registry calls `SumService` makes. */
final class StoreTarget(service: SumService) extends Target(service) {
  val store: RecordStore = service.store
  val oracles: OracleRegistry = service.oracles

  def client(): Client = new Client {
    private def rec(r: Either[String, SumRecord]) =
      r.fold(e => Res(ok = false, e), x => Res(ok = true, "", Seq(x)))
    def createOracle(name: String, code: String): Long =
      OracleCompiler.compile(service.spark, name, code).flatMap(oracles.create)
        .fold(e => throw new IllegalStateException(e), _.id)
    def findOracle(name: String): Long =
      oracles.findByName(name).fold(e => throw new IllegalStateException(e), _.id)
    def create(r: SumRecord): Res = rec(store.create(r))
    def read(id: Long): Res = store.find(id)
      .fold(Res(ok = false, s"record $id not found."))(x => Res(ok = true, "", Seq(x)))
    def update(r: SumRecord): Res = rec(store.update(r))
    def delete(id: Long): Res = rec(store.delete(id))
    def list(page: Long, perPage: Long): Res = {
      val p = store.list(page, perPage)
      Res(ok = true, "", p.records, total = p.total)
    }
    def find(key: String, value: String): Res = store.findBy(key, value)
      .fold(Res(ok = false, s"meta index $key not found."))(rs => Res(ok = true, "", rs))
    def run(oracleId: Long, args: Seq[String]): Res =
      oracles.run(oracleId, store, args)
        .fold(e => Res(ok = false, e), j => Res(ok = true, "", json = j))
    def records(): Long = store.size
  }

  override def preload(rs: Seq[SumRecord]): Res =
    store.createManyWithId(rs).fold(e => Res(ok = false, e), _ => Res(ok = true, ""))
}
