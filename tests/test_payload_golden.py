"""Golden pin of the encoded format for every column kind the engine accepts.

One seeded table holds each kind twice: ``<kind>`` with no null anywhere,
``<kind>_n`` with nulls at every level (null rows, null lists / maps /
structs, null list elements, null map values, null struct leaves).  It is
encoded as two chunks sharing one selection cache, the way an encode task
does: a two-chunk table (the second chunk a sliced view) and a sliced
single-chunk window.  Each physical column's rows hash to one sha256 over
col, codec, meta, payload, stats, raw_bytes, enc_bytes and crc, so any
change to the payload bytes, the validity bitmaps, the zone-map stats or
the codec choice of any kind fails here, naming the column.

The legacy list names (``list32``/``list64``/``listf32``/``listf64``) are
spellings of ``list<int32|int64|float32|float64>``: both must give the same
rows and the same decoded table.

Regenerate the digests (only for a deliberate format change) with
``PYTHONPATH=. python tests/test_payload_golden.py`` from the repo root.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import numpy as np
import pyarrow as pa

from clj_orc_spark.pipeline.decode import decode_chunk_table
from clj_orc_spark.pipeline.encode import (
    OUT_SCHEMA,
    _encode_chunk_rows,
    _row_weight_csum,
    derive_schema,
)

N = 3000
SEED = 20240917

#: the descriptor derive_schema must give each base column
KINDS = {
    "s": "str", "y": "binary", "i": "int32", "l": "int64", "b": "bool",
    "d": "date32", "t": "ts_us", "tz": "ts_us_utc",
    "f": "float32", "g": "float64",
    "li": "list32", "ll": "list64", "lf": "listf32", "lg": "listf64",
    "ls": "list<str>", "lb": "list<bool>", "ly": "list<binary>",
    "ld": "list<date32>",
    "m": "map<str,int64>", "mt": "map<int64,ts_us_utc>",
    "st": "struct<name:str,when:struct<day:date32,at:ts_us>,n:int32>",
}

_WORDS = ["alpha", "beta", "gamma", "delta", "épsilon", "ζeta", "", "x" * 40]


def _table() -> pa.Table:
    rng = np.random.default_rng(SEED)

    def word():
        return _WORDS[int(rng.integers(len(_WORDS)))]

    def blob():
        return rng.bytes(int(rng.integers(0, 9)))

    day0 = dt.date(2020, 1, 1)
    ts0 = dt.datetime(2021, 3, 4, 5, 6, 7)
    tsz0 = dt.datetime(2021, 3, 4, 5, 6, 7, tzinfo=dt.timezone.utc)

    def day():
        return day0 + dt.timedelta(days=int(rng.integers(-400, 400)))

    def ts(base=ts0):
        return base + dt.timedelta(microseconds=int(rng.integers(0, 10**11)))

    def f32():
        r = rng.random()
        return float("nan") if r < 0.02 else float(np.float32(r * 100 - 50))

    def f64():
        r = rng.random()
        return float("nan") if r < 0.02 else r * 1e6 - 5e5

    def zipf():  # clipped, never modulo: keeps the skew codecs feed on
        return int(min(rng.zipf(1.3), 60_000))

    gen = {
        "s": (word, pa.string()),
        "y": (blob, pa.binary()),
        "i": (zipf, pa.int32()),
        "l": (lambda: 10**12 + int(rng.integers(0, 5000)), pa.int64()),
        "b": (lambda: bool(rng.random() < 0.8), pa.bool_()),
        "d": (day, pa.date32()),
        "t": (ts, pa.timestamp("us")),
        "tz": (lambda: ts(tsz0), pa.timestamp("us", tz="UTC")),
        "f": (f32, pa.float32()),
        "g": (f64, pa.float64()),
    }
    list_of = {"li": "i", "ll": "l", "lf": "f", "lg": "g", "ls": "s",
               "lb": "b", "ly": "y", "ld": "d"}

    def column(name, nulls: bool):
        p_row = 0.1 if nulls else 0.0  # null row / list / map / struct
        p_val = 0.1 if nulls else 0.0  # null element / map value / leaf

        def maybe(fn, p):
            return None if rng.random() < p else fn()

        if name in gen:
            fn, typ = gen[name]
            return pa.array([maybe(fn, p_row) for _ in range(N)], typ)
        if name in list_of:
            fn, typ = gen[list_of[name]]
            vals = [
                maybe(lambda: [maybe(fn, p_val)
                               for _ in range(int(rng.integers(0, 7)))],
                      p_row)
                for _ in range(N)
            ]
            return pa.array(vals, pa.list_(typ))
        if name in ("m", "mt"):
            kfn, vfn, typ = (
                (word, gen["l"][0], pa.map_(pa.string(), pa.int64()))
                if name == "m" else
                (gen["l"][0], lambda: ts(tsz0),
                 pa.map_(pa.int64(), pa.timestamp("us", tz="UTC")))
            )
            vals = []
            for _ in range(N):
                if rng.random() < p_row:
                    vals.append(None)
                    continue
                keys = list(dict.fromkeys(
                    kfn() for _ in range(int(rng.integers(0, 5)))))
                vals.append([(k, maybe(vfn, p_val)) for k in keys])
            return pa.array(vals, typ)
        typ = pa.struct([
            ("name", pa.string()),
            ("when", pa.struct([("day", pa.date32()),
                                ("at", pa.timestamp("us"))])),
            ("n", pa.int32()),
        ])
        vals = [
            maybe(lambda: {
                "name": maybe(word, p_val),
                "when": maybe(lambda: {"day": maybe(day, p_val),
                                       "at": maybe(ts, p_val)}, p_val),
                "n": maybe(zipf, p_val),
            }, p_row)
            for _ in range(N)
        ]
        return pa.array(vals, typ)

    cols = {}
    for name in KINDS:
        cols[name] = column(name, False)
        cols[f"{name}_n"] = column(name, True)
    return pa.table(cols)


def _chunks(tbl: pa.Table) -> list[pa.Table]:
    """The two encoded chunks: a two-chunk table whose second chunk is a
    sliced view, and a sliced single-chunk window."""
    two = pa.concat_tables([tbl.slice(0, 1111), tbl.slice(1111, 1000)])
    return [two, tbl.slice(2111, N - 2111)]


def _encode(tbl: pa.Table, schema) -> list[dict]:
    cache: dict = {}
    return [_encode_chunk_rows(c, 5, seq, cache, "size", schema)
            for seq, c in enumerate(_chunks(tbl))]


def _digests(chunk_rows: list[dict]) -> dict[str, str]:
    fields = ("col", "codec", "meta", "payload", "stats", "raw_bytes",
              "enc_bytes", "crc")
    out: dict[str, hashlib._Hash] = {}
    for rows in chunk_rows:
        for i, col in enumerate(rows["col"]):
            h = out.setdefault(col, hashlib.sha256())
            for f in fields:
                v = rows[f][i]
                b = v if isinstance(v, bytes) else str(v).encode()
                h.update(len(b).to_bytes(8, "little") + b)
    return {c: h.hexdigest() for c, h in sorted(out.items())}


def _decode(rows: dict, schema) -> pa.Table:
    batch = pa.RecordBatch.from_arrays(
        [pa.array(rows[f.name], type=f.type) for f in OUT_SCHEMA],
        schema=OUT_SCHEMA,
    )
    return decode_chunk_table(pa.Table.from_batches([batch]), None, schema)


def _bits(t: pa.DataType) -> pa.DataType:
    """``t`` with every float leaf swapped for its same-width uint, so a
    view compares NaN payloads bit for bit."""
    if pa.types.is_float32(t):
        return pa.uint32()
    if pa.types.is_float64(t):
        return pa.uint64()
    if pa.types.is_list(t):
        return pa.list_(_bits(t.value_type))
    return t


def _canon(tbl: pa.Table) -> pa.Table:
    return pa.table({
        name: tbl.column(name).combine_chunks().view(_bits(tbl.column(name).type))
        for name in tbl.column_names
    })


def _order_digest(chunk_rows: list[dict]) -> str:
    """sha256 of each chunk's physical column order (the chunk file's row
    order)."""
    return hashlib.sha256(
        "\n".join(",".join(rows["col"]) for rows in chunk_rows).encode()
    ).hexdigest()


def _csum_digest(tbl: pa.Table, schema) -> str:
    return hashlib.sha256(
        np.ascontiguousarray(_row_weight_csum(tbl, schema), dtype=np.int64)
    ).hexdigest()


GOLDEN = {
    "b":
        "5e4b056c77ced994b5451ae0838cc2623c29f145eab4d49be39dd46ae49220bb",
    "b_n":
        "285c949799c1a8290b81c0f7d2004e163c83a2ed3ed0312f3cb12f487806ef12",
    "d":
        "dce7e71c7c2036b7b5cbecb74f8a51b1499e26148a40db811da0fbf71349bbc2",
    "d_n":
        "950f1b4c00ed94178ade0b983a4cbefe435b52d603ca11347596b1a0cc3586cc",
    "f":
        "e9bffbab8228dbba71d5d6e676ad41bea16d770b42c50e94ffd2192bb731c01f",
    "f_n":
        "bdc322855798cf61d7aba4fef5262d6e13f5b664a047b2b49245f02e11fb93c6",
    "g":
        "a847c85e9c50f7d252ec59e8cdcadb8be03841ab1256352083ef8c70b12358f0",
    "g_n":
        "4c0baa3b639558d76bf5a85be1c35676c1ad7f36ea427bdc5510bb9e03a8e0b3",
    "i":
        "a64ba17b180557c893a43a2a651608c97e0e65927d26c72820723ac1e0165d57",
    "i_n":
        "23c5d441c3ddfa5fd5633017f8a5ad8b42c3ceb16f26b6245c9875ea94390772",
    "l":
        "b22c3a572aa2484d22a6459c7bdb8942442bcd87f67c95fc643ef6c216a6fce8",
    "l_n":
        "f19fb09ad1a94a9fcb2e322b2a872742131345cb5091d679d56466fc5faf4538",
    "lb__offsets":
        "2fc04f83b809d04e0ade3064e00c39b5c6641e0f96de55f698b97129ad9e079d",
    "lb__values":
        "e344471d25683a905054a22e285f73d59c20befdabb5e2f0cf52129e04aa5c05",
    "lb_n__offsets":
        "1997c6e1626e546dd31f9377b722aff25e126b3272a10f938d6ae0099d825999",
    "lb_n__values":
        "e32a94a5893befd9a9592fca6317905fc6311e94a3c101a3ca4ffcfe3aada0c8",
    "ld__offsets":
        "3ab35fedc84c4d93237941dfaadbbe981d36c280992aad6cdc44d32fcf4971b8",
    "ld__values":
        "9c02478e94631c2493405223fff2effcea83672e61b44294144f1d8c192ca7ec",
    "ld_n__offsets":
        "243ceeb893ff24fa497bfb4654878171f4facd7e10577a74fec32ce447def2f8",
    "ld_n__values":
        "c098884231a5228a3df4fd8cf49c105156a5d01494be617544b3863d15d894d3",
    "lf__offsets":
        "264b6ec3d716fea853424ea8d14f48166c33709ef942b8a231a177ff885a9049",
    "lf__values":
        "badd2ce2ea26d3ec1560d6f449732805d71a05d1cfdf549d6718e6fb8475c247",
    "lf_n__offsets":
        "3defe6a9c7966f4f92266f9c73cbf0d9535082a780203bfeb3d234439cf4c67d",
    "lf_n__values":
        "341541ab7fbd28f4f1e3f43e2ea1f78e251c3d50a7ce1d39859a49ad06e35d86",
    "lg__offsets":
        "34bb80a9a1f1bf0729772fe67aa2a918fc8a73404a0dfe06218e4fc9e1629874",
    "lg__values":
        "9ff0e4dcd752ace923546d5e1088db2c31d2dc4c052e8c2bfa229d0a28434b0a",
    "lg_n__offsets":
        "357c6b26f38d33c15e67ce35afaddbcdcfb38b82c97151858b1b98df4574af76",
    "lg_n__values":
        "9ba0f9677225c49563514c6ae1ac9fe8dc5766d835d8cbe0927a4cafe85ca666",
    "li__offsets":
        "4cb6279ea7892cc1229c9c98e56428a47b5a3136ac8d0e75192470bdbb4c192e",
    "li__values":
        "f4010aa1f817c4b99146b614a764f6244f2a34bdb66115feba769b5454a2d3f1",
    "li_n__offsets":
        "2225ab3da82d575f9583236d5d9c8d89fc0b41a07d1b49b6a3b350bbd24072a6",
    "li_n__values":
        "32fa8e19b1712f968d04881d9589feaf03ab2f876aec66bba958f23ac59776b6",
    "ll__offsets":
        "615b21868c233891037d73ddc330ae8f3814c8e35a7176ca837f9007635e52f7",
    "ll__values":
        "8b77ba6f9688242ab9c7d87737b63d39dd537bbb965ed21cc352c29814d4260d",
    "ll_n__offsets":
        "0cc1ca1e2da28657c03cc386736058af33ca09143960dbd0fad2790c03de66cf",
    "ll_n__values":
        "a29423687392415aace730576c77f66e306bbc46aa421b3fcf9daebfc3726dde",
    "ls__offsets":
        "c9dc76b9f999f98a809981c7d3ae65c5dd30eb552be9e3162cfbe5f1ce09bf46",
    "ls__values":
        "487425d837e73559cc3a2e901a8787f865afdac0e2f888e6202fee04a91f81e0",
    "ls_n__offsets":
        "148bde4606bab4622673f454115c2fb285759a0caf33c4403a2c3919d575e5fc",
    "ls_n__values":
        "034efccb25d84d702b7b8389654a75c11558e3b099db222dba46db3fd6dde102",
    "ly__offsets":
        "1fa5d7eb304e7e885230ed49a8846c7f12b2f1c3c7aa44a46c3d9028b87498b0",
    "ly__values":
        "cae21420a5aedd7c5e9e42aa2adfd63017112f867bda8f5baf9002f905b27461",
    "ly_n__offsets":
        "7e58c4fdbf1f09d9ec64d0613e3139a8f52ccf0cf3df3c65a706d7c1fd263755",
    "ly_n__values":
        "7f68b99756f97ec00ced37f2654d97f31f43daff5ae6f72d776e344a274dd802",
    "m__keys":
        "943cbc4f52c886255e4e79211509b9606a67a680ee55080ca6f2ed67f0b47bd1",
    "m__mapvalues":
        "c1135bf9901bafc78e27c7b9b8d4ffff8e1d867931282e6e7854a37706a9a2fe",
    "m__offsets":
        "fb93478e8cd5271b41c56a692e46de0efcc8805c9014f421e7dfb1c804bfde6a",
    "m_n__keys":
        "eec1883359812f5c472ea117b86e3ad99a2ba41e81a3325cdea14a8d8939734b",
    "m_n__mapvalues":
        "437338773cccac28a0decf3371309c6a9cd4f3e47733e91dee3626d2c90cde60",
    "m_n__offsets":
        "9782b33f856a3e7cf146f09b58ad7fa27a64a59701c949972a941219ca2443b2",
    "mt__keys":
        "893ce4626a5bb4eecaef35166c77780ecde250f3882631647d7e3b895f88d907",
    "mt__mapvalues":
        "4726275e75a67b4ffb3c07154bdee9adc80131920cff88277f1c774938aaabd5",
    "mt__offsets":
        "13c12dfb26de39e864c7b5a6ef72f507845edd21ba8f47b06af13c333d203827",
    "mt_n__keys":
        "03f4ab93024c18b01cf3469ef19ccc120ff0e336360a708a6fd7b2410f3d5b54",
    "mt_n__mapvalues":
        "524ba2f2ef452ea603842623dd8f863c0f69323f983cd97b0ad07dfe7b5aa0b3",
    "mt_n__offsets":
        "82582a99f8b0a5b892bd2720799b09320d5a50cd152cfe392c2781630b69829b",
    "s":
        "41d3c86307226599c3dfbb3cb75bad9326844dacac437b7b64d1db299503549a",
    "s_n":
        "006e36608678a8ddd127f1068dcff7255ce477622e571ad16dc8059009a928c7",
    "st__n":
        "4c970a9121d638d2e675d5ec2ad07860b26a5d89fe29faf185eab2470469e6dc",
    "st__name":
        "f9e85780d9761e53013483eadd97f8dd36cc5dd0cb298eb30917ecd1b8ae487e",
    "st__present":
        "be1278107248b2d7e337f7ca76f494b535180aa055591a3641f0be32090d00de",
    "st__when__at":
        "f367b285910e0c0400e8a3000ae472cf7dd99e583d531a5b4f385f08e57291ac",
    "st__when__day":
        "c320f8c7086a50e73302f53ca2fa0661151ef5fbd88cfec6afba6fd5694d0c67",
    "st__when__present":
        "ed80fdd0b8b2a0e68453902d099e48167135a4172a4daa3c4cc3d9058fa34467",
    "st_n__n":
        "30363c4cda558ef6067cef0a646177932b5163067cb68725ff95c0f18e0b3076",
    "st_n__name":
        "b784e96a3515f6bd6ff449c09e5d51303bb1ded66d06d2b42f3d7a229a294345",
    "st_n__present":
        "ea50f02547f582c7c202a11c614813b37b3a793c9e91641742806a6b13e312e8",
    "st_n__when__at":
        "34eea0a869802a5992759cb797cce0f7907f3fb5f620bd92827987735c1baf2a",
    "st_n__when__day":
        "2557aacbcc7eb1dc91ba1204be577e1036877f4737aac2a758c2810c71ba3fb6",
    "st_n__when__present":
        "12f7f824c896a7c6c557f135f453f67a861ebb519adb0d5a64691893155fc496",
    "t":
        "061624202ae8525fd20dae0d9f7798b27e3f74acfd1f590f49072c0234d3b24c",
    "t_n":
        "f90d5b6618aea041675bf160a128fcb3dfb6bcf43fcfe4476881df5254bd151e",
    "tz":
        "e6dbc1ee817452460d24bfaf2d5217e2456e4b56dd506fec4b1bf8199d2036a1",
    "tz_n":
        "1bda4b47e3112e4432cfebf463a1d9ef88dc8f811bab763ca41d0f8c6f3d948c",
    "y":
        "a401a60b273403252517f22c181f4545ed900432e5ee3ea13ea5897b73d71af5",
    "y_n":
        "4853633fdf21cb1ad1e15a038ea079ba1504631dbd81e1785a5d791508cb91a9",
}

GOLDEN_ORDER = "40a26f140fa8d964f92ce328512ab97877b3de08d2fccd2a797f19af078ab9bb"
GOLDEN_CSUM = "96904db4c78abf9fe3cc346e6ce1a34a11bac0ddaad34424ff586ca1e34a05e8"


def test_schema_covers_every_kind():
    schema = derive_schema(_table().schema)
    assert schema == [(c, k) for name, k in KINDS.items()
                      for c in (name, f"{name}_n")]


def test_payload_digests_match_golden():
    tbl = _table()
    schema = derive_schema(tbl.schema)
    rows = _encode(tbl, schema)
    assert _digests(rows) == GOLDEN
    assert _order_digest(rows) == GOLDEN_ORDER
    assert _csum_digest(tbl, schema) == GOLDEN_CSUM


def test_decode_roundtrips_every_kind():
    tbl = _table()
    schema = derive_schema(tbl.schema)
    for chunk, rows in zip(_chunks(tbl), _encode(tbl, schema)):
        got = _decode(rows, schema)
        assert _canon(got).equals(_canon(chunk))


def test_legacy_list_names_are_spellings():
    tbl = _table()
    legacy = derive_schema(tbl.schema)
    spelled = [
        (c, {"list32": "list<int32>", "list64": "list<int64>",
             "listf32": "list<float32>", "listf64": "list<float64>"}.get(k, k))
        for c, k in legacy
    ]
    assert spelled != legacy
    a, b = _encode(tbl, legacy), _encode(tbl, spelled)
    assert a == b
    assert _csum_digest(tbl, legacy) == _csum_digest(tbl, spelled)
    for rows in a:
        assert _canon(_decode(rows, legacy)).equals(
            _canon(_decode(rows, spelled)))


if __name__ == "__main__":
    t = _table()
    sch = derive_schema(t.schema)
    print("GOLDEN = {")
    for c, d in _digests(_encode(t, sch)).items():
        print(f'    "{c}":\n        "{d}",')
    print("}\n")
    print(f'GOLDEN_ORDER = "{_order_digest(_encode(t, sch))}"')
    print(f'GOLDEN_CSUM = "{_csum_digest(t, sch)}"')
