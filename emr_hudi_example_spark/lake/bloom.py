"""One per-file bloom: the key bloom and the column bloom.

The engine's analog of Hudi's ``BLOOM`` index (the index family the
reference configures via ``hoodie.index.type=GLOBAL_BLOOM``,
``SRC/Log2Hudi.scala:78-79``) and of its metadata-table bloom-filter
partition. Each instance keeps, for every file a commit adds, one bloom
over each of its columns' distinct non-null values (canonical strings:
Spark's ``cast("string")``), in one JSON sidecar per commit::

    <root>/<instant>.json = {"nbits": n, "k": k, "files": {fp: {col: b64}}}

- the KEY bloom (``_bloom/``, column ``_record_key``, manifest stamp
  ``bloom``) prunes upsert/delete candidates: the random-key workload
  (UUIDs, content hashes) where every file spans the whole key space and
  min/max range stats prune nothing;
- the COLUMN bloom (``_bloom_cols/``, the table's ``bloom_columns``,
  stamp ``col_bloom``) prunes ``=``/``in`` predicate reads on
  high-cardinality columns the same way.

A bloom is a fixed ``nbits/8`` bytes per file and column — cheaper than
the record index's row per record. False positives only cost a redundant
scan of one file, never a wrong result; ``=``/``in`` never match NULL,
so NULLs are left out.

Geometry: each instance builds with its constants below (``KEY_*``,
``COL_*``) and records them in the sidecar; probes read the geometry
from the sidecar, never from the writer's constants, so changing them
never invalidates written blooms. A sidecar without recorded geometry
(the legacy flat ``{fp: b64}`` key format) counts as no bloom: its
files are kept. Positions derive from double hashing over one
cryptographic digest per value (:func:`key_positions`) — stable across
processes, hosts and Python versions, so a bloom written by one writer
is valid for every reader.

100 TB shape: point-sized string commits build driver-side with
pyarrow; everything else builds in one Arrow-batched ``applyInPandas``
pass with one output row per (file, column). Literal operands probe
driver-side against the cached sidecars; a key batch too large to
collect probes in one ``mapInPandas`` pass over its distinct keys with
the candidate blooms broadcast. Nothing collects data rows to the
driver.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING, Callable

import pyarrow.parquet as pa_pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from emr_hudi_example_spark.lake.index import creating_instant, driver_buildable
from emr_hudi_example_spark.lake.timeline import write_json

if TYPE_CHECKING:
    from emr_hudi_example_spark.lake.table import LakeTable

#: key geometry: 2^20 bits (128 KiB) / 7 hashes → FPR ≈ 1% at ~100k
#: keys per file, ≈ 3e-7 at 10k keys per file
KEY_NBITS = 1 << 20
KEY_HASHES = 7
#: column geometry: 2^17 bits (16 KiB per file and column) / 5 hashes →
#: FPR ≈ 2% at 16k distinct values per file
COL_NBITS = 1 << 17
COL_HASHES = 5


def _bloom_fns():
    """The bloom arithmetic as closures with local imports: cloudpickle
    ships functions it cannot import by name BY VALUE, so the Spark
    kernels below carry these to Python workers that do not have this
    package on their import path."""

    def key_positions(keys, nbits: int, k: int):
        """Bit positions per key, shape ``(len(keys), k)`` uint64: one
        16-byte digest per key, ``h1`` its first 8 bytes and
        ``h2`` the last 8 (forced odd, a unit mod the power-of-two
        ``nbits``); position_i = (h1 + i*h2) % nbits."""
        import hashlib

        import numpy as np

        h = np.empty((len(keys), 2), dtype=np.uint64)
        for j, key in enumerate(keys):
            d = hashlib.blake2b(str(key).encode("utf-8"), digest_size=16).digest()
            h[j, 0] = int.from_bytes(d[:8], "little")
            h[j, 1] = int.from_bytes(d[8:], "little") | 1
        i = np.arange(k, dtype=np.uint64)
        return (h[:, :1] + i[None, :] * h[:, 1:2]) % np.uint64(nbits)

    def build_bloom(keys, nbits: int, k: int) -> bytes:
        """Bitset (``nbits/8`` bytes, little bit order) covering ``keys``."""
        import numpy as np

        bits = np.zeros(nbits, dtype=np.uint8)
        if len(keys):
            bits[key_positions(keys, nbits, k).ravel()] = 1
        return np.packbits(bits, bitorder="little").tobytes()

    def bloom_to_b64(bloom: bytes) -> str:
        import base64

        return base64.b64encode(bloom).decode("ascii")

    def bloom_from_b64(s: str):
        """The packed bitset as a uint8 array, ready for probes."""
        import base64

        import numpy as np

        return np.frombuffer(base64.b64decode(s), dtype=np.uint8)

    def might_contain(bloom, positions):
        """``(n,)`` bool: True where all k bits of a row of
        ``positions`` (from :func:`key_positions`) are set in the
        packed ``bloom`` — the key is possibly present."""
        return ((bloom[positions >> 3] >> (positions & 7)) & 1).all(axis=1)

    return key_positions, build_bloom, bloom_to_b64, bloom_from_b64, might_contain


key_positions, build_bloom, bloom_to_b64, bloom_from_b64, might_contain = (
    _bloom_fns()
)


class Bloom:
    """One per-file bloom of ``table`` rooted at ``root`` over
    ``columns``, built with geometry ``(nbits, k)``; files whose bloom
    is built carry the manifest flag ``stamp``. See the module
    docstring for the layout."""

    def __init__(
        self,
        table: "LakeTable",
        root: str,
        stamp: str,
        columns: list[str],
        nbits: int,
        k: int,
    ) -> None:
        self.t = table
        self.root = root
        self.stamp = stamp
        self.columns = columns
        self.nbits = nbits
        self.k = k
        #: lazy per-instant sidecar cache; blooms are decoded from b64
        #: in place on first probe
        self._sidecars: dict[str, dict] = {}

    # ------------------------------------------------------------ build

    def build(
        self, instant: str, added: list[dict], schema: T.StructType
    ) -> None:
        """Bloom the ``schema`` columns of the ``added`` files and persist
        the commit's sidecar (atomic rename). Empty files, and columns of
        the instance missing from ``schema``, get an explicit EMPTY
        bloom: the file provably holds no value of them.

        Point-sized commits over STRING columns build driver-side
        (``cast("string")`` is the identity on strings, so the Python
        values are the canonical forms — the same gate as the
        value→file index); everything else takes one Spark pass."""
        nbits, k, cols = self.nbits, self.k, schema.fieldNames()
        files: dict[str, dict[str, str]] = {}
        all_string = all(
            isinstance(fld.dataType, T.StringType) for fld in schema.fields
        )
        if cols and all_string and driver_buildable(self.t, added):
            for f in added:
                tbl = pa_pq.read_table(
                    os.path.join(self.t.path, f["path"]), columns=cols
                )
                files[f["path"]] = {
                    c: bloom_to_b64(
                        build_bloom(
                            list(set(tbl.column(c).to_pylist()) - {None}),
                            nbits,
                            k,
                        )
                    )
                    for c in cols
                }
        elif cols:
            rows = self.t._read_files(
                [f["path"] for f in added], schema=schema
            ).select(
                self.t._rel_fp_expr().alias("fp"),
                *[F.col(c).cast("string").alias(c) for c in cols],
            )

            def _build(pdf):
                import pandas as pd

                return pd.DataFrame(
                    {
                        "fp": pdf["fp"].iloc[0],
                        "col": cols,
                        "bloom": [
                            bloom_to_b64(
                                build_bloom(
                                    pdf[c].dropna().unique().tolist(), nbits, k
                                )
                            )
                            for c in cols
                        ],
                    }
                )

            for r in (
                rows.groupBy("fp")
                .applyInPandas(_build, "fp string, col string, bloom string")
                .collect()
            ):
                files.setdefault(r["fp"], {})[r["col"]] = r["bloom"]
        empty = None
        for f in added:
            per = files.setdefault(f["path"], {})
            for c in self.columns:
                if c not in per:
                    empty = empty or bloom_to_b64(build_bloom([], nbits, k))
                    per[c] = empty
        sidecar = {"nbits": nbits, "k": k, "files": files}
        write_json(os.path.join(self.root, instant + ".json"), sidecar)
        self._sidecars[instant] = sidecar

    # ----------------------------------------------------- prune / clear

    def prune(self, live_instants: set[str]) -> None:
        """Drop the sidecars of instants that own no live file."""
        if not os.path.isdir(self.root):
            return
        for fn in os.listdir(self.root):
            inst = fn[: -len(".json")]
            if fn.endswith(".json") and inst not in live_instants:
                os.remove(os.path.join(self.root, fn))
                self._sidecars.pop(inst, None)

    def clear(self) -> None:
        """Forget every cached sidecar (a restore can re-allocate an
        instant id)."""
        self._sidecars.clear()

    # ------------------------------------------------------------ probe

    def _lookup(self, f: dict, col: str):
        """``(nbits, k, packed bloom)`` of ``col`` for a live file, or
        None when the file has no recorded bloom of it."""
        if not f.get(self.stamp):
            return None
        inst = creating_instant(f["path"])
        sc = self._sidecars.get(inst)
        if sc is None:
            try:
                with open(os.path.join(self.root, inst + ".json")) as fh:
                    sc = json.load(fh)
            except FileNotFoundError:
                sc = {}
            if not {"nbits", "k", "files"} <= sc.keys():
                sc = {"files": {}}  # no recorded geometry: unbloomed
            self._sidecars[inst] = sc
        per = sc["files"].get(f["path"])
        if per is None or per.get(col) is None:
            return None
        if isinstance(per[col], str):
            per[col] = bloom_from_b64(per[col])
        return sc["nbits"], sc["k"], per[col]

    def probe(
        self,
        files: list[dict],
        operands: list[str] | DataFrame,
        col: str | None = None,
        canon: Callable[[str], list[str] | None] | None = None,
    ) -> set[str]:
        """Paths of ``files`` that may hold an operand value of ``col``
        (default: the instance's first column): the bloom hits, plus
        every file without a recorded bloom of ``col`` (kept).

        ``operands`` are literal values — probed driver-side, each
        geometry's positions hashed once — or, for a key batch too large
        to collect, a one-column DataFrame of them (one ``mapInPandas``
        pass). ``canon`` maps a creating instant to ITS canonical
        operand forms (None: no reproducible form, keep its files)."""
        col = col or self.columns[0]
        kept: set[str] = set()
        blooms = []
        for f in files:
            hit = self._lookup(f, col)
            if hit is None:
                kept.add(f["path"])
            else:
                blooms.append((f["path"], *hit))
        if not blooms:
            return kept
        if isinstance(operands, DataFrame):
            return kept | self._spark_probe(blooms, operands)
        ops_of: dict[str | None, list[str] | None] = {}
        positions: dict[tuple, object] = {}
        for path, nbits, k, bloom in blooms:
            inst = creating_instant(path) if canon is not None else None
            if inst not in ops_of:
                ops_of[inst] = operands if canon is None else canon(inst)
            ops = ops_of[inst]
            if ops is None:
                kept.add(path)
                continue
            if not ops:
                continue  # no operand: nothing can match
            if (inst, nbits, k) not in positions:
                positions[inst, nbits, k] = key_positions(ops, nbits, k)
            if might_contain(bloom, positions[inst, nbits, k]).any():
                kept.add(path)
        return kept

    def _spark_probe(self, blooms: list[tuple], operands: DataFrame) -> set[str]:
        """Paths of ``blooms`` (``(path, nbits, k, bloom)``) hit by some
        value of ``operands``: one narrow pass over its distinct values
        with the blooms broadcast (bounded by the range-prune
        survivors); output is hit paths only."""
        bc = self.t.spark.sparkContext.broadcast(blooms)
        c = operands.columns[0]

        def _probe(batches):
            import pandas as pd

            for pdf in batches:
                vals = pdf[c].dropna().tolist()
                if not vals:
                    continue
                positions: dict[tuple, object] = {}
                hits = []
                for path, nbits, k, bloom in bc.value:
                    if (nbits, k) not in positions:
                        positions[nbits, k] = key_positions(vals, nbits, k)
                    if might_contain(bloom, positions[nbits, k]).any():
                        hits.append(path)
                yield pd.DataFrame({"fp": hits})

        try:
            return {
                r[0]
                for r in operands.distinct()
                .mapInPandas(_probe, "fp string")
                .distinct()
                .collect()
            }
        finally:
            bc.destroy()
