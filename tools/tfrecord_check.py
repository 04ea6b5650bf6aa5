#!/usr/bin/env python3
"""Independent TFRecord/tf.Example decoder — stdlib only, written from
the PUBLIC specs (TFRecord framing; protobuf wire format; the
tf.Example message layout), sharing no code with the Scala
implementation. Used by TfRecordSpec as the cross-implementation
oracle: if graft's encoder deviates from the public wire format in any
way its own decoder happens to mirror, this decoder disagrees and the
spec fails.

Usage: tfrecord_check.py <file.tfrecord>
Prints one JSON object per record: {feature: {"kind": k, "values": [...]}}
(bytes values print as UTF-8 strings; a value that is not valid UTF-8,
e.g. a binary feature, prints as {"hex": "<lowercase hex>"}; a Feature
that sets no list kind prints as {"kind": null, "values": []}).
"""
import json
import struct
import sys


def crc32c(data: bytes) -> int:
    # bitwise CRC32C (Castagnoli, reflected poly 0x82F63B78)
    crc = 0xFFFFFFFF
    for b in data:
        crc ^= b
        for _ in range(8):
            if crc & 1:
                crc = (crc >> 1) ^ 0x82F63B78
            else:
                crc >>= 1
    return crc ^ 0xFFFFFFFF


def masked(c: int) -> int:
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def read_varint(b: bytes, off: int):
    shift, v = 0, 0
    while True:
        x = b[off]
        off += 1
        v |= (x & 0x7F) << shift
        if not x & 0x80:
            return v, off
        shift += 7
        if shift > 63:
            raise ValueError("varint overflow")


def bytes_value(b: bytes):
    """A bytes_list value: its text when it is UTF-8, else tagged hex."""
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return {"hex": b.hex()}


def parse_feature(b: bytes):
    off, end = 0, len(b)
    while off < end:
        tag, off = read_varint(b, off)
        field, wt = tag >> 3, tag & 7
        if field == 1 and wt == 2:  # BytesList
            ln, off = read_varint(b, off)
            bl, off = b[off:off + ln], off + ln
        elif field == 2 and wt == 2:  # FloatList
            ln, off = read_varint(b, off)
            bl, off = b[off:off + ln], off + ln
            vals, o2 = [], 0
            while o2 < len(bl):
                t2, o2 = read_varint(bl, o2)
                f2, w2 = t2 >> 3, t2 & 7
                if f2 == 1 and w2 == 2:  # packed
                    l2, o2 = read_varint(bl, o2)
                    vals += [struct.unpack("<f", bl[o2 + i:o2 + i + 4])[0]
                             for i in range(0, l2, 4)]
                    o2 += l2
                elif f2 == 1 and w2 == 5:
                    vals.append(struct.unpack("<f", bl[o2:o2 + 4])[0])
                    o2 += 4
                else:
                    raise ValueError("unexpected FloatList field")
            return {"kind": "float", "values": vals}
        elif field == 3 and wt == 2:  # Int64List
            ln, off = read_varint(b, off)
            bl, off = b[off:off + ln], off + ln
            vals, o2 = [], 0
            while o2 < len(bl):
                t2, o2 = read_varint(bl, o2)
                f2, w2 = t2 >> 3, t2 & 7
                if f2 == 1 and w2 == 2:  # packed varints
                    l2, o2 = read_varint(bl, o2)
                    stop = o2 + l2
                    while o2 < stop:
                        v, o2 = read_varint(bl, o2)
                        # int64 two's complement
                        vals.append(v - (1 << 64) if v >= (1 << 63) else v)
                elif f2 == 1 and w2 == 0:
                    v, o2 = read_varint(bl, o2)
                    vals.append(v - (1 << 64) if v >= (1 << 63) else v)
                else:
                    raise ValueError("unexpected Int64List field")
            return {"kind": "int64", "values": vals}
        else:
            raise ValueError(f"unexpected Feature field {field} wt {wt}")
        # bytes list: decode inner repeated bytes
        vals, o2 = [], 0
        while o2 < len(bl):
            t2, o2 = read_varint(bl, o2)
            f2, w2 = t2 >> 3, t2 & 7
            if f2 == 1 and w2 == 2:
                l2, o2 = read_varint(bl, o2)
                vals.append(bytes_value(bl[o2:o2 + l2]))
                o2 += l2
            else:
                raise ValueError("unexpected BytesList field")
        return {"kind": "bytes", "values": vals}
    # a Feature that sets no list kind: TfRecord.read reads it as NULL
    return {"kind": None, "values": []}


def parse_example(payload: bytes):
    out = {}
    off, end = 0, len(payload)
    while off < end:
        tag, off = read_varint(payload, off)
        field, wt = tag >> 3, tag & 7
        if field != 1 or wt != 2:
            raise ValueError(f"unexpected Example field {field}")
        ln, off = read_varint(payload, off)
        feats, off = payload[off:off + ln], off + ln
        o2 = 0
        while o2 < len(feats):
            t2, o2 = read_varint(feats, o2)
            f2, w2 = t2 >> 3, t2 & 7
            if f2 != 1 or w2 != 2:
                raise ValueError("unexpected Features field")
            l2, o2 = read_varint(feats, o2)
            entry, o2 = feats[o2:o2 + l2], o2 + l2
            key, feat, o3 = None, None, 0
            while o3 < len(entry):
                t3, o3 = read_varint(entry, o3)
                f3, w3 = t3 >> 3, t3 & 7
                if w3 != 2:
                    raise ValueError("unexpected map-entry wire type")
                l3, o3 = read_varint(entry, o3)
                body, o3 = entry[o3:o3 + l3], o3 + l3
                if f3 == 1:
                    key = body.decode("utf-8")
                elif f3 == 2:
                    feat = parse_feature(body)
            if key is None or feat is None:
                raise ValueError("incomplete map entry")
            out[key] = feat
    return out


def records(path: str):
    """Deframed tf.Example dicts; every length and payload masked-CRC32C
    is verified on the way (an AssertionError here is a wire bug)."""
    data = open(path, "rb").read()
    off = 0
    while off < len(data):
        (length,) = struct.unpack("<Q", data[off:off + 8])
        (lcrc,) = struct.unpack("<I", data[off + 8:off + 12])
        assert lcrc == masked(crc32c(data[off:off + 8])), f"length CRC at {path}:{off}"
        payload = data[off + 12:off + 12 + length]
        (pcrc,) = struct.unpack(
            "<I", data[off + 12 + length:off + 16 + length])
        assert pcrc == masked(crc32c(payload)), f"payload CRC at {path}:{off}"
        yield parse_example(payload)
        off += 16 + length


def main(path: str) -> None:
    for ex in records(path):
        print(json.dumps(ex, sort_keys=True, ensure_ascii=False))


def selfcheck(expect_jsonl: str, tfr_dir: str) -> None:
    """Closing-checklist gate (graft.TfrSelfCheck is the producer):
    decode every shard under tfr_dir with THIS decoder — masked-CRC
    framing verified record by record — and diff the decoded
    tf.Examples against the rows the Spark pipeline meant to write.
    Exit 0 only on an exact match of the full record set."""
    import os
    expected = {}
    with open(expect_jsonl) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                expected[r["seq_id"]] = r
    assert expected, f"no expected rows in {expect_jsonl}"

    shards = []
    for root, _, names in os.walk(tfr_dir):
        # skip Hadoop's hidden .part-*.tfrecord.crc checksum sidecars
        shards += [os.path.join(root, n) for n in names
                   if ".tfrecord" in n and not n.startswith(".")
                   and not n.endswith(".crc")]
    assert shards, f"no .tfrecord shards under {tfr_dir}"

    mismatches, got_n = [], 0
    seen = set()
    for shard in shards:
        for ex in records(shard):
            got_n += 1
            sid = ex["seq_id"]["values"][0]
            if sid in seen:
                mismatches.append(f"seq_id {sid}: duplicated on the wire")
                continue
            seen.add(sid)
            want = expected.get(sid)
            if want is None:
                mismatches.append(f"seq_id {sid}: on the wire but not expected")
                continue
            for key in ("input_ids", "labels", "doc_offsets", "n_docs", "n_pad"):
                feat = ex.get(key)
                if feat is None or feat["kind"] != "int64":
                    mismatches.append(f"seq_id {sid}.{key}: missing or non-int64")
                    continue
                w = want[key]
                w = w if isinstance(w, list) else [w]
                if feat["values"] != w:
                    mismatches.append(
                        f"seq_id {sid}.{key}: wire {feat['values']} != expected {w}")
    for sid in expected:
        if sid not in seen:
            mismatches.append(f"seq_id {sid}: expected but absent from the wire")

    if mismatches:
        for m in mismatches[:20]:
            print(f"MISMATCH {m}", file=sys.stderr)
        print(f"tfrecord selfcheck FAILED: {len(mismatches)} mismatches "
              f"({got_n} wire records, {len(expected)} expected)", file=sys.stderr)
        sys.exit(1)
    print(f"tfrecord selfcheck OK: {got_n} records across {len(shards)} shards "
          "match expected bit-for-bit (CRCs verified)")


if __name__ == "__main__":
    if sys.argv[1] == "--expect":
        selfcheck(sys.argv[2], sys.argv[3])
    else:
        main(sys.argv[1])
