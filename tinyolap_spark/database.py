"""Database — root container of dimensions and cubes
(reference ``tinyolap/database.py:28``).

Persistence (reference uses SQLite, ``storage/sqlite.py``): we standardize on
**Parquet facts + a JSON metadata document** per database directory::

    <path>/
      database.json            # dims (members/hierarchy/attrs), cube defs
      cubes/<cube>.parquet     # leaf-level fact rows

This is the cloud-native analogue — facts are columnar, splittable,
predicate-pushdown-friendly; metadata is tiny and driver-side.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import SparkSession

from .cube import Cube
from .metadata import Dimension, TinyOlapError


class DuplicateKeyError(TinyOlapError):
    pass


class Database:
    def __init__(self, name: str = "db", spark: Optional[SparkSession] = None):
        self.name = name
        self.spark = spark or SparkSession.getActiveSession()
        if self.spark is None:
            raise TinyOlapError("no active SparkSession; pass spark=")
        self.dimensions: dict[str, Dimension] = {}
        self.cubes: dict[str, Cube] = {}
        # undo/redo over cube mutations (reference history.py; S7) — see
        # tinyolap_spark/history.py; save() persists the most recent
        # `history_persist_depth` undo and redo entries per cube (reference
        # HistoryMode.PERSIST, storage/sqlite.py:208-291)
        from .history import History

        self.history = History()
        self.history_persist_depth: int = 8
        # user registry + role-based authorization (reference users.py:19-29,
        # authorization.py:9-69) — driver-side metadata, enforced at the
        # public entry points (require()) and by the REST/GraphQL layer
        from .users import UserCollection

        self.users = UserCollection()
        # where this db was last save()d / open()ed from — anchors the
        # default snapshot folder (reference database.py:117,147-149)
        self._storage_path: Optional[str] = None
        self._snapshots = None

    def rename(self, new_name: str) -> None:
        """Rename the database (reference ``database.rename``; exercised
        by ``samples/tiny42.py:46``).  Rejects empty/control-character
        names (reference ``database.py:247-250`` validates too) and
        re-keys any Server registry this database is attached to."""
        if (
            not new_name
            or not new_name.strip()
            or any(c in new_name for c in "\t\n\r")
        ):
            raise TinyOlapError(f"invalid database name {new_name!r}")
        old = self.name
        self.name = new_name
        server = getattr(self, "_server", None)
        if server is not None:
            try:
                server._rekey(old, self)
            except TinyOlapError:
                self.name = old  # name collision in the registry: roll back
                raise

    # ------------------------------------------------------------- dims
    def add_dimension(
        self, name: str, description: str = "", large_dim: bool = False
    ) -> Dimension:
        key = name.lower()
        if key in self.dimensions:
            raise DuplicateKeyError(f"dimension '{name}' already exists")
        d = Dimension(name, description, large_dim=large_dim)
        self.dimensions[key] = d
        return d

    def add_dimension_from_dataframe(
        self,
        name: str,
        df,
        leaf_col: str,
        parent_col: "str | None" = None,
        weight_col: "str | None" = None,
        top: str = "All",
        description: str = "",
        multi_parent: bool = False,
    ) -> Dimension:
        """Register a :meth:`Dimension.from_dataframe` dimension — the
        100x construction path for very-high-cardinality member sets
        (VERDICT r11 #3): driver memory stays O(groups); leaves live in
        Spark frames.  Immutable; ``save()`` persists the leaf frame as
        parquet under ``<path>/dims/`` (baking the leaf ids) and
        ``open()`` reloads it lazily — the round trip is exact
        (reference persistence contract ``storage/sqlite.py:391-489``,
        ``database.py:598-632``)."""
        key = name.lower()
        if key in self.dimensions:
            raise DuplicateKeyError(f"dimension '{name}' already exists")
        d = Dimension.from_dataframe(
            name, df, leaf_col,
            parent_col=parent_col, weight_col=weight_col,
            top=top, description=description,
            multi_parent=multi_parent,
        )
        self.dimensions[key] = d
        return d

    def dimension(self, name: str) -> Dimension:
        return self.dimensions[name.lower()]

    def dimension_remove(self, name: str) -> None:
        key = name.lower()
        for cube in self.cubes.values():
            if any(d is self.dimensions[key] for d in cube.dimensions):
                raise TinyOlapError(
                    f"dimension '{name}' is in use by cube '{cube.name}'"
                )
        del self.dimensions[key]

    # ------------------------------------------------------------- cubes
    def add_cube(
        self, name: str, dimensions: Sequence["Dimension | str"], description: str = ""
    ) -> Cube:
        key = name.lower()
        if key in self.cubes:
            raise DuplicateKeyError(f"cube '{name}' already exists")
        dims = [
            d if isinstance(d, Dimension) else self.dimension(d)
            for d in dimensions
        ]
        c = Cube(name, dims, self.spark, description)
        c._history = self.history
        self.cubes[key] = c
        return c

    def cube(self, name: str) -> Cube:
        return self.cubes[name.lower()]

    # reference-compat conveniences (database.py public surface)
    def cube_exists(self, name: str) -> bool:
        return name.lower() in self.cubes

    def dimension_exists(self, name: str) -> bool:
        return name.lower() in self.dimensions

    def get_dimension(self, name: str) -> Dimension:
        return self.dimension(name)

    def get(self, address: Sequence) -> "float | str | None":
        """``db.get(("cube", m1, ..., mN))`` (reference
        ``database.py:409-421``)."""
        cube_name, *members = address
        return self.cube(cube_name).get(tuple(members))

    def set(self, address: Sequence, value) -> None:
        cube_name, *members = address
        self.cube(cube_name).set(tuple(members), value)

    @classmethod
    def from_pandas(
        cls,
        df,
        name: str = "tiny",
        cube_name: str = "data",
        spark: Optional[SparkSession] = None,
    ) -> "Database":
        """Build a database from a pandas/Spark DataFrame — dimensions
        inferred from non-numeric columns (reference
        ``tools/tinypandas.py:25-34``; see :mod:`tinyolap_spark.tinypandas`)."""
        from .tinypandas import TinyPandas

        return TinyPandas.to_tiny_database(df, name, cube_name, spark)

    def add_cube_from_df(self, df, cube_name: str) -> Cube:
        """Add a DataFrame as a new cube with ``[cube_name]_[col]``
        dimensions (reference ``tools/tinypandas.py:46-56``)."""
        from .tinypandas import TinyPandas

        return TinyPandas.database_add_df(self, df, cube_name)

    def clone(self, name: Optional[str] = None) -> "Database":
        """Deep copy via a temp save/open round trip (reference
        ``Database.clone``; DataFrame immutability makes the fact copies
        free — only metadata re-materializes)."""
        import tempfile

        tmp = tempfile.mkdtemp(prefix="tinyolap_clone_")
        prev = self._storage_path
        self.save(tmp)
        # the temp round-trip is a side copy — keep the SOURCE anchored
        # to its primary location (snapshots default folder follows it)
        self._storage_path = prev
        out = Database.open(tmp, spark=self.spark)
        out.name = name or f"{self.name}_clone"
        return out

    def __getitem__(self, item):
        """``db["cube", m1, ..., mN]`` cell read (reference
        ``database.py:409-421``)."""
        if isinstance(item, tuple):
            cube, *addr = item
            return self.cube(cube).get(addr)
        return self.cube(item)

    def __setitem__(self, item, value):
        if isinstance(item, tuple):
            cube, *addr = item
            self.cube(cube).set(addr, value)
        else:
            raise TinyOlapError("cell write needs ('cube', m1, ..., mN)")

    # -------------------------------------------------------- authorization
    def authorize(self, user: "str | object", action: str) -> bool:
        """Can ``user`` (a name or User) perform ``action`` — one of
        ``read`` / ``write`` / ``model`` / ``admin``?

        Authorization is MEMBERSHIP-scoped: the user is always re-resolved
        by name in THIS database's registry, so a User object taken from
        another database's registry carries no rights here (a writer in
        dbB must not write into dbA), and unknown users can do nothing.
        """
        name = user if isinstance(user, str) else getattr(user, "name", None)
        u = self.users.get(name) if name is not None else None
        return u is not None and u.can(action)

    def require(self, user: "str | object", action: str) -> None:
        """Raise :class:`~tinyolap_spark.users.NotAuthorizedError` unless
        :meth:`authorize` passes (reference role docstrings,
        ``authorization.py:14-38``)."""
        from .users import NotAuthorizedError

        if not self.authorize(user, action):
            name = user if isinstance(user, str) else getattr(user, "name", user)
            raise NotAuthorizedError(
                f"user '{name}' is not authorized for action '{action}'"
            )

    def purge_orphans(self, dim: Dimension) -> None:
        """After a dimension edit removed members, delete fact rows that
        reference them (reference ``database.py:634-645`` →
        ``cube.py:565-576``) and drop caches."""
        from pyspark.sql import functions as F

        if getattr(dim, "_from_dataframe", False):
            # r13 probe finding: ``dim.members`` enumerates the driver
            # graph (upper hierarchy only) — treating it as the valid
            # id set would classify EVERY DataFrame-resident leaf as an
            # orphan and silently delete all fact rows.  The dimension
            # is immutable anyway, so there is nothing to purge.
            raise TinyOlapError(
                f"purge_orphans is meaningless for from_dataframe "
                f"dimension '{dim.name}': it is immutable (no edit can "
                f"orphan a member), and its leaves live in a DataFrame "
                f"— the driver member list would wrongly mark every "
                f"leaf fact as an orphan"
            )
        valid = [m.index for m in dim.members]
        for cube in self.cubes.values():
            for col, d in cube._dims_spec():
                if d is dim:
                    cube._replace_fact(
                        cube.fact.where(F.col(col).isin(valid))
                    )

    # ------------------------------------------------------- persistence
    # --- encrypted storage (reference encryption.py — SURVEY S9).  The
    # reference Fernet-encrypts strings on the driver; Spark-native版 runs
    # the built-in aes_encrypt/aes_decrypt on the fact's value columns
    # EXECUTOR-SIDE (distributed, GCM), with a PBKDF2 password KDF and a
    # per-database salt + password-check token in database.json.  Member
    # ids stay plain (they are meaningless without the metadata); values
    # never hit disk in cleartext.
    _PBKDF2_ITERS = 390_000
    _CHECK_TOKEN = "tinyolap_spark"

    def _derive_key(self, password: str, salt_hex: str) -> str:
        import hashlib

        key = hashlib.pbkdf2_hmac(
            "sha256",
            password.encode(),
            bytes.fromhex(salt_hex),
            self._PBKDF2_ITERS,
        )
        return key.hex()

    def save(
        self,
        path: str,
        partition_by: Optional[dict[str, str]] = None,
        password: Optional[str] = None,
    ) -> None:
        """Persist metadata + facts.

        ``partition_by``: cube name -> fact column to hive-partition on.
        At scale, partitioning the fact by a filter-heavy dimension column
        turns dimension slicers into PARTITION PRUNING at the parquet scan
        (the directory layout is the index).

        ``password``: AES-GCM-encrypt the value columns on disk
        (reference S9); pass the same password to :meth:`open`.
        """
        import secrets

        from pyspark.sql import functions as F

        os.makedirs(path, exist_ok=True)
        dims_meta = []
        for d in self.dimensions.values():
            dd = d.to_dict()
            if getattr(d, "_from_dataframe", False):
                # a from_dataframe dimension's leaves live in a
                # DataFrame, not the JSON document — persist them as
                # parquet next to the fact tables (VERDICT r12 #1).
                # The frame is the eagerly-checkpointed leaf frame
                # (LogicalRDD), so writing back to the very path this
                # db was opened from is safe, and the write BAKES the
                # leaf ids: facts saved below reference them, and
                # open() reloads both consistently.  Like every other
                # member name in database.json, leaf names are
                # metadata and stay cleartext under password=.
                from . import engine

                rel = os.path.join("dims", f"{d.name.lower()}.parquet")
                frame = (
                    # multi_parent: the EDGE frame is the durable truth
                    # (several rows per member); the leaf frame derives
                    # from it on open
                    engine._from_df_edge_frame(self.spark, d)
                    if d._src.get("multi_parent")
                    else engine._from_df_leaf_frame(self.spark, d)
                )
                frame.write.mode("overwrite").parquet(
                    os.path.join(path, rel)
                )
                dd["from_dataframe"]["leaf_file"] = rel
            dims_meta.append(dd)
        meta = {
            "name": self.name,
            "dimensions": dims_meta,
            "cubes": [c.to_dict() for c in self.cubes.values()],
            "users": self.users.to_list(),
        }
        key = None
        if password is not None:
            salt = secrets.token_bytes(16).hex()
            key = self._derive_key(password, salt)
            check = self.spark.range(1).select(
                F.base64(
                    F.expr(
                        f"aes_encrypt('{self._CHECK_TOKEN}', "
                        f"unhex('{key}'), 'GCM')"
                    )
                ).alias("c")
            ).collect()[0]["c"]
            meta["encryption"] = {
                "method": "aes-gcm-pbkdf2",
                "salt": salt,
                "check": check,
            }
        # Persistent undo (reference PERSIST mode, storage/sqlite.py:208-291
        # command log): save() keeps the most recent
        # `history_persist_depth` entries per cube.  A cell entry is its
        # before-images, stored as JSON in database.json.  A snapshot entry
        # is a full fact VERSION — the Spark-native shape of a command log
        # is table time travel — written as parquet and read back lazily on
        # open.  Versions are written BEFORE the fact overwrite (their
        # plans may still read the destination parquet after an
        # open-modify-save cycle), and the in-memory entry swaps to the
        # written file so later in-session undo never replays a plan over
        # overwritten data.
        hist_meta: dict[str, list] = {}
        redo_meta: dict[str, list] = {}
        token = secrets.token_hex(4)  # unique per save: a version file is
        # never overwritten in place, so a restored entry whose plan reads
        # history/<cube>/v*.parquet can itself be re-persisted to the same
        # directory (open -> modify -> save cycles); superseded files are
        # garbage-collected below once nothing references them.
        for cube in self.cubes.values():
            for prefix, stack, out_meta in (
                ("v", self.history._undo, hist_meta),
                ("r", self.history._redo, redo_meta),
            ):
                entries = [
                    (j, fact, pending)
                    for j, (c, fact, pending) in enumerate(stack)
                    if c is cube
                ][-int(self.history_persist_depth):]
                items = []
                for i, (j, fact, pending) in enumerate(entries):
                    self._validate_pending(cube, pending)
                    # global LIFO position within its stack — open()
                    # re-appends entries in seq order so cross-cube
                    # interleaving survives the round trip (the reference
                    # command log preserves global order)
                    item = {"seq": j}
                    images = [[list(addr), v] for addr, v in pending.items()]
                    items.append(item)
                    if fact is None:
                        item["cells"] = images
                        continue
                    item["pending"] = images
                    rel = os.path.join(
                        "history",
                        cube.name.lower(),
                        f"{prefix}{i}-{token}.parquet",
                    )
                    self._enc_fact(cube, fact, key).write.mode(
                        "overwrite"
                    ).parquet(os.path.join(path, rel))
                    reloaded = self._dec_fact(
                        cube,
                        self.spark.read.parquet(os.path.join(path, rel)),
                        key,
                    )
                    stack[j] = (cube, reloaded, dict(pending))
                    item["file"] = rel
                if items:
                    out_meta[cube.name.lower()] = items
        self._crypt_images((hist_meta, redo_meta), key)
        if hist_meta:
            meta["history"] = hist_meta
        if redo_meta:
            meta["history_redo"] = redo_meta
        self._gc_history(path, hist_meta, redo_meta)
        for cube in self.cubes.values():
            # Cut lineage before the overwrite: after open() the fact plan
            # still scans the destination parquet, and Spark refuses to
            # overwrite a path it is reading from (open -> modify -> save
            # to the same path is the reference's routine workflow).
            out = self._enc_fact(cube, cube._detached_fact(), key)
            writer = out.write.mode("overwrite")
            pcol = (partition_by or {}).get(cube.name.lower())
            if pcol:
                writer = writer.partitionBy(pcol)
            writer.parquet(
                os.path.join(path, "cubes", f"{cube.name.lower()}.parquet")
            )
        # pending cell values were validated eagerly above (_validate_pending)
        # so an unserializable value raises at save() instead of being
        # silently stringified and restored with a changed type; default=str
        # remains only for incidental metadata (e.g. datetime attributes).
        with open(os.path.join(path, "database.json"), "w") as f:
            json.dump(meta, f, indent=1, default=str)
        self._storage_path = path

    @staticmethod
    def _validate_pending(cube, pending: dict) -> None:
        """Persisted history cell values (a snapshot's pending writes, a
        cell entry's images) must round-trip JSON exactly
        (float/int/str/bool/None); anything else fails loudly at save()."""
        for addr, v in pending.items():
            if v is not None and not isinstance(v, (int, float, str, bool)):
                raise TinyOlapError(
                    f"cube '{cube.name}': pending cell value at {addr} has "
                    f"non-persistable type {type(v).__name__} "
                    f"(float/int/str/bool/None only)"
                )

    def _crypt_images(
        self, metas: "Sequence[dict]", key: Optional[str], decrypt=False
    ) -> None:
        """AES-GCM-encrypt in place the cell values of persisted history
        items (a cell entry's images, a snapshot's pending writes), so that
        with a password no value reaches database.json in cleartext; with
        ``decrypt``, the inverse.  One Spark job for all items."""
        from pyspark.sql import functions as F

        if key is None:
            return
        items = [
            (item, k)
            for meta in metas
            for cube_items in meta.values()
            for item in cube_items
            for k in ("cells", "pending")
            if isinstance(item.get(k), str if decrypt else list)
        ]
        if not items:
            return
        expr = (
            f"cast(aes_decrypt(unbase64(t), unhex('{key}'), 'GCM') as string)"
            if decrypt
            else f"base64(aes_encrypt(t, unhex('{key}'), 'GCM'))"
        )
        texts = [item[k] if decrypt else json.dumps(item[k]) for item, k in items]
        out = (
            self.spark.createDataFrame([(t,) for t in texts], "t string")
            .select(F.expr(expr).alias("t"))
            .collect()
        )
        for (item, k), row in zip(items, out):
            item[k] = json.loads(row["t"]) if decrypt else row["t"]

    def _gc_history(self, path: str, *metas: dict) -> None:
        """Remove superseded history version files — everything under
        ``<path>/history`` that neither the metadata just written nor any
        live in-memory undo/redo entry still reads.

        Fails CLOSED: if the live entries cannot be enumerated (an
        ``inputFiles()`` plan walk raises), nothing is deleted — a stale
        version file is harmless, deleting one still referenced by a live
        undo entry breaks a later ``undo()``.
        """
        from urllib.parse import unquote, urlparse

        keep = {
            os.path.abspath(os.path.join(path, item["file"]))
            for hist_meta in metas
            for items in hist_meta.values()
            for item in items
            if "file" in item
        }
        try:
            for entry in self.history._undo + self.history._redo:
                if entry[1] is None:
                    continue  # a cell entry reads no file
                for f in entry[1].inputFiles():
                    # file URIs percent-encode specials; unquote before
                    # comparing against the os.path-built keep entries
                    p = unquote(urlparse(f).path)
                    keep.add(os.path.dirname(os.path.abspath(p)))
        except Exception:  # noqa: BLE001 — fail closed, skip GC entirely
            return
        root = os.path.join(path, "history")
        if not os.path.isdir(root):
            return
        for cdir in os.listdir(root):
            full = os.path.join(root, cdir)
            if not os.path.isdir(full):
                continue
            for v in os.listdir(full):
                target = os.path.abspath(os.path.join(full, v))
                if target not in keep:
                    shutil.rmtree(target, ignore_errors=True)

    def _enc_fact(self, cube, df, key):
        """Encrypt the value columns for on-disk layout (no-op sans key)."""
        from pyspark.sql import functions as F

        if key is None:
            return df
        return df.select(
            *[F.col(c) for c in cube._cols],
            F.expr(
                f"aes_encrypt(cast(value as string), "
                f"unhex('{key}'), 'GCM')"
            ).alias("value_enc"),
            F.expr(
                f"aes_encrypt(value_str, unhex('{key}'), 'GCM')"
            ).alias("value_str_enc"),
        )

    def _dec_fact(self, cube, df, key):
        """Inverse of :meth:`_enc_fact` (no-op sans key)."""
        from pyspark.sql import functions as F

        if key is None:
            return df.select(*cube._schema.fieldNames())
        return df.select(
            *[F.col(c) for c in cube._cols],
            F.expr(
                f"cast(cast(aes_decrypt(value_enc, "
                f"unhex('{key}'), 'GCM') as string) as double)"
            ).alias("value"),
            F.expr(
                f"cast(aes_decrypt(value_str_enc, "
                f"unhex('{key}'), 'GCM') as string)"
            ).alias("value_str"),
        )

    @classmethod
    def open(
        cls,
        path: str,
        spark: Optional[SparkSession] = None,
        password: Optional[str] = None,
    ) -> "Database":
        with open(os.path.join(path, "database.json")) as f:
            meta = json.load(f)
        db = cls(meta["name"], spark)
        db._open_key = None
        enc = meta.get("encryption")
        if enc is not None:
            from pyspark.sql import functions as F

            if password is None:
                raise TinyOlapError(
                    f"database at '{path}' is encrypted; pass password="
                )
            key = db._derive_key(password, enc["salt"])
            got = db.spark.range(1).select(
                F.expr(
                    f"cast(try_aes_decrypt(unbase64('{enc['check']}'), "
                    f"unhex('{key}'), 'GCM') as string)"
                ).alias("t")
            ).collect()[0]["t"]
            if got != cls._CHECK_TOKEN:
                raise TinyOlapError("wrong password")
            db._open_key = key
        if meta.get("users"):
            from .users import UserCollection

            db.users = UserCollection.from_list(meta["users"])
        for ddata in meta["dimensions"]:
            dim = Dimension.from_dict(ddata, spark=db.spark, base_path=path)
            db.dimensions[dim.name.lower()] = dim
        for cdata in meta["cubes"]:
            cube = db.add_cube(
                cdata["name"],
                [db.dimension(n) for n in cdata["dimensions"]],
                cdata.get("description", ""),
            )
            fpath = os.path.join(path, "cubes", f"{cube.name.lower()}.parquet")
            if os.path.exists(fpath):
                df = db.spark.read.parquet(fpath)
                df = db._dec_fact(cube, df, db._open_key)
                cube._replace_fact(df.select(*cube._schema.fieldNames()))
            if cdata.get("rules"):
                cube.load_rules_from_dicts(cdata["rules"])
            if cdata.get("comments"):
                cube.comments.load_list(cdata["comments"])
            for kept in cdata.get("summaries", []):
                # specs only — the frames rebuild lazily on first use
                cube._summaries.append(
                    {"kept": tuple(kept), "df": None, "rows": None}
                )
        # restore the persisted undo AND redo stacks (lazy parquet reads; a
        # version only materializes if the user actually undoes into it).
        # Entries re-append in global `seq` order so cross-cube interleaving
        # survives the round trip — History is one global LIFO, not per-cube.
        def _restore(meta_key: str, stack: list) -> None:
            gathered = []
            fallback = 0
            for cname, items in meta.get(meta_key, {}).items():
                cube = db.cubes.get(cname)
                if cube is None:
                    continue
                for item in items:
                    seq = item.get("seq", fallback)  # pre-seq saves: file order
                    fallback = max(fallback, seq) + 1
                    gathered.append((seq, cube, item))
            gathered.sort(key=lambda t: t[0])
            for _seq, cube, item in gathered:
                if "file" not in item:  # a cell entry: its images
                    stack.append((cube, None, {
                        tuple(addr): v for addr, v in item["cells"]
                    }))
                    continue
                vdf = db.spark.read.parquet(os.path.join(path, item["file"]))
                vdf = db._dec_fact(cube, vdf, db._open_key)
                pending = {
                    tuple(addr): v for addr, v in item.get("pending", [])
                }
                stack.append((cube, vdf, pending))

        db._crypt_images(
            (meta.get("history", {}), meta.get("history_redo", {})),
            db._open_key, decrypt=True,
        )
        _restore("history", db.history._undo)
        _restore("history_redo", db.history._redo)
        db._storage_path = path
        return db

    @property
    def snapshots(self):
        """Snapshot manager of the database (reference
        ``database.py:147-149``) — backup/version management.  Snapshots
        live under ``<storage dir>/snapshots`` where the storage dir is
        where this db was last ``save()``d/``open()``ed (cwd for a
        never-saved in-memory db); pass an explicit ``folder`` to
        :class:`tinyolap_spark.package.SnapshotManager` to place them
        elsewhere."""
        anchor = self._storage_path or "."
        # rebuild when the anchor moved (save() to a new path) so the
        # manager never keeps writing snapshots under the old folder
        if self._snapshots is None or self._snapshots.folder != anchor:
            from .package import SnapshotManager

            self._snapshots = SnapshotManager(self, folder=anchor)
        return self._snapshots

    def export(self, path: str) -> None:
        """Snapshot/clone (reference ``database.py:319-380``).  A side
        copy: does not re-anchor the primary storage location."""
        if os.path.exists(path):
            shutil.rmtree(path)
        prev = self._storage_path
        self.save(path)
        self._storage_path = prev

    def close(self) -> None:
        for cube in self.cubes.values():
            try:
                if cube._built_fact is not None:
                    cube._built_fact.unpersist()
            except Exception:
                pass
