package graft.nexmark.codec

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import graft.nexmark.{Auction, Bid, Event, Person}

/** Unified-topic per-record wire format (beans/Serializer.java:200-272
  * consumer, :168-198 producer): value = 1-byte type tag (0=auction,
  * 1=bid, 2=person — NexmarkEvent.java:41,88,131) followed by the fields
  * in the reference's exact order, strings as Java DataOutput.writeUTF;
  * message key = 8-byte big-endian partition key (auctionId for
  * auctions/bids, personId for persons — NexmarkEvent.java:51-53).
  */
object TaggedCodec {

  def encodeKey(e: Event): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(e.key).array()

  def encode(e: Event): Array[Byte] = {
    val bos = new ByteArrayOutputStream(512)
    val out = new DataOutputStream(bos)
    e.eventType match {
      case Event.AuctionType =>
        val a = e.auction.get
        out.writeByte(0)
        out.writeLong(a.timestamp); out.writeLong(a.auctionId)
        out.writeLong(a.itemId)
        out.writeUTF(a.name); out.writeUTF(a.descr)
        out.writeLong(a.personId); out.writeDouble(a.initialPrice)
        out.writeLong(a.start); out.writeLong(a.end)
        out.writeLong(a.categoryId); out.writeLong(a.ingestionTimestamp)
      case Event.BidType =>
        val b = e.bid.get
        out.writeByte(1)
        out.writeLong(b.ingestionTimestamp); out.writeLong(b.timestamp)
        out.writeLong(b.auctionId); out.writeLong(b.personId)
        out.writeLong(b.bidId); out.writeDouble(b.bid)
      case _ =>
        val p = e.person.get
        out.writeByte(2)
        out.writeLong(p.timestamp); out.writeLong(p.personId)
        out.writeUTF(p.name); out.writeUTF(p.email)
        out.writeUTF(p.city); out.writeUTF(p.country)
        out.writeUTF(p.province); out.writeUTF(p.zipcode)
        out.writeUTF(p.homepage); out.writeUTF(p.creditcard)
        out.writeLong(p.ingestionTimestamp)
    }
    out.flush()
    bos.toByteArray
  }

  /** Length-prefixed record for file-backed topic partitions (the --q0
    * generator pipeline's broker-less analog): 4-byte big-endian length +
    * the tagged value bytes. Kafka stores per-message framing in its log;
    * a flat file needs the explicit prefix to re-split.
    */
  def framed(value: Array[Byte]): Array[Byte] =
    java.nio.ByteBuffer.allocate(4 + value.length).putInt(value.length).put(value).array()

  /** Split a partition file written as concatenated [[framed]]
    * records back into value byte arrays. Validates each length prefix so
    * a truncated or corrupt file fails with a clear error (offset + length)
    * instead of a raw BufferUnderflow/NegativeArraySize inside the task. */
  def sliceFramed(content: Array[Byte]): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private val buf = java.nio.ByteBuffer.wrap(content)
      // any leftover byte means another record must follow — a tail
      // shorter than a length prefix is truncation, reported in next()
      def hasNext: Boolean = buf.remaining() > 0
      def next(): Array[Byte] = {
        val pos = buf.position()
        if (buf.remaining() < 4)
          throw new IllegalArgumentException(
            s"truncated tagged frame at offset $pos: ${buf.remaining()} bytes of length prefix")
        val len = buf.getInt()
        if (len < 0 || len > buf.remaining())
          throw new IllegalArgumentException(
            s"corrupt tagged frame at offset $pos: length $len with ${buf.remaining()} bytes left")
        val out = new Array[Byte](len)
        buf.get(out)
        out
      }
    }

  /** Serializer.java:203-258 switch, field order verbatim. */
  def decode(value: Array[Byte]): Event = {
    val in = new DataInputStream(new ByteArrayInputStream(value))
    in.readByte() match {
      case 0 =>
        val ts = in.readLong(); val auctionId = in.readLong()
        val itemId = in.readLong()
        val name = in.readUTF(); val descr = in.readUTF()
        val personId = in.readLong(); val initialPrice = in.readDouble()
        val start = in.readLong(); val end = in.readLong()
        val categoryId = in.readLong(); val ingest = in.readLong()
        Event.of(Auction(ts, auctionId, personId, itemId, initialPrice,
          start, end, categoryId, name, descr, ingest))
      case 1 =>
        val ingest = in.readLong(); val ts = in.readLong()
        val auctionId = in.readLong(); val personId = in.readLong()
        val bidId = in.readLong(); val bid = in.readDouble()
        Event.of(Bid(ingest, ts, auctionId, personId, bidId, bid))
      case 2 =>
        val ts = in.readLong(); val personId = in.readLong()
        val name = in.readUTF(); val email = in.readUTF()
        val city = in.readUTF(); val country = in.readUTF()
        val province = in.readUTF(); val zipcode = in.readUTF()
        val homepage = in.readUTF(); val creditcard = in.readUTF()
        val ingest = in.readLong()
        Event.of(Person(ts, personId, name, email, city, country,
          province, zipcode, homepage, creditcard, ingest))
      case t => throw new IllegalArgumentException(s"unknown event tag $t")
    }
  }
}
