"""``fed_relay``: one-entity SQL sent to a relay's Arrow Flight server.

The benchmark process serves an ``edge`` relay, added to the demo web, with
``sources.flight_service.serve_in_background``; a ``pyarrow.flight`` client
in the same process sends one query at a time. One op is
``get_flight_info`` plus ``do_get`` of every endpoint. The served relay
routes entities to

* ``lineitem_us``   — a hop to the demo's ``global`` relay and on through its
  ``global``→``na_us`` hop to the two ``na_us`` file sources (transforms,
  a permission);
* ``lineitem``      — an identity-mapped Flight peer in a second process
  (``tools/run_flight_relay.py``), so whole templates forward;
* ``priced_items``  — a remote hop whose mid relay reads the same peer;
* ``sales``         — two date-bounded file sources (source pruning);
* ``lineitem_all``  — the six-relay web behind one more hop (TPC-H Q3),
  joined with local ``customer`` and ``orders``.

Ops come in cycles: each cycle runs every declared ``fed_*`` shape once, in
a seed-shuffled order, and a run measures whole cycles. A shape alternates
between engine and template mode from cycle to cycle, starting from its
position in ``SHAPES``, so every run has the same (shape, mode) mix; the
principal comes from a seed-shuffled deck of both. Each op draws its
literals from the seed; about half repeat an earlier text of the same
(shape, mode, principal) exactly, so a plan or fact cache would show its
gain on the repeats and no change on the rest.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.flight as flight

from perfbench import datagen
from perfbench.oracle import Oracle

PEER_TOKENS = {"edge-relay-token": "reader"}
VIEW_DEFAULT = "DEFAULT"
VIEW_ALL = "ALL_ACCESS"


@dataclass
class Shape:
    """One declared query shape. ``sql`` and every ``subs`` pair are
    ``str.format`` templates over the drawn literals; ``subs`` rewrites the
    declared oracle text to the same literals (each ``old`` must occur)."""
    name: str
    sql: str
    draw: object                       # rng -> dict of literals
    subs: list[tuple[str, str]] = field(default_factory=list)
    modes: tuple[str, ...] = ("engine", "template")
    # template mode runs the query once per source: the oracle per source
    # replaces the entity view with each source's CTE (None: one endpoint
    # answers for the whole entity)
    split: tuple[str, ...] | None = ("src_trino", "src_csv")
    # entity behind a permission: the principal picks the oracle's view
    permissioned: bool = False
    base_view: str = VIEW_DEFAULT
    # DuckDB SQL over ``result`` applied before comparing, per mode
    post: dict = field(default_factory=dict)
    drop: dict = field(default_factory=dict)   # oracle columns to drop
    ticket_col: str | None = None   # template: endpoint source as a column
    peer: bool = False              # reads the peer relay process
    # round(<float sum>, d) columns: see ``oracle.Oracle.matches``
    rounded: dict = field(default_factory=dict)


def _qty(rng, lo=1, hi=50):
    return int(rng.integers(lo, hi + 1))


SHAPES = [
    Shape("fed_lineitem_q1", """
select returnflag, linestatus,
       round(sum(quantity), 2) as sum_qty,
       round(sum(extendedprice * (1 - discount_percent / 100)), 2) as sum_disc_price,
       round(avg(tax_percent), 4) as avg_tax_pct,
       count(*) as count_order
from lineitem_us
where quantity <= {q}
group by returnflag, linestatus
order by returnflag, linestatus
""", lambda rng: {"q": _qty(rng, 5, 50)},
        [("from entity_lineitem\ngroup by returnflag, linestatus",
          "from entity_lineitem\nwhere quantity <= {q}\n"
          "group by returnflag, linestatus")],
        permissioned=True,
        rounded={"sum_disc_price": 2, "avg_tax_pct": 4}),
    Shape("fed_lineitem_q1_all_access", """
select returnflag, linestatus,
       round(sum(quantity), 2) as sum_qty,
       count(*) as count_order,
       count(orderkey) as n_orderkey
from lineitem_us
where quantity <= {q}
group by returnflag, linestatus
order by returnflag, linestatus
""", lambda rng: {"q": _qty(rng, 5, 50)},
        [("from entity_lineitem\ngroup by returnflag, linestatus",
          "from entity_lineitem\nwhere quantity <= {q}\n"
          "group by returnflag, linestatus")],
        permissioned=True, base_view=VIEW_ALL),
    Shape("fed_source_pruning", """
select year(shipdate) as ship_year,
       count(*) as n, round(sum(qty), 2) as sum_qty
from sales
where shipdate >= date '{d}'
group by year(shipdate)
order by ship_year
""", lambda rng: {"d": f"{int(rng.integers(1996, 2001))}-"
                       f"{int(rng.integers(1, 13)):02d}-01"},
        [("date '1996-06-01'", "date '{d}'")],
        split=None, drop={"engine": ["source_id"]},
        ticket_col="source_id"),
    Shape("fed_template_agg_forward", """
select returnflag, count(*) as n, sum(quantity) as sum_qty
from lineitem
where quantity <= {q}
group by returnflag
""", lambda rng: {"q": _qty(rng, 5, 50)},
        [("from src_trino group by returnflag",
          "from src_trino where quantity <= {q} group by returnflag"),
         ("from src_csv group by returnflag",
          "from src_csv where quantity <= {q} group by returnflag")],
        split=None,
        post={"template": "select returnflag, cast(sum(n) as bigint) as n, "
                          "round(sum(sum_qty), 2) as sum_qty, "
                          "count(*) as n_partials from result "
                          "group by returnflag",
              "engine": "select returnflag, n, round(sum_qty, 2) as sum_qty "
                        "from result"},
        drop={"engine": ["n_partials"]},
        peer=True),
    Shape("fed_topk_pushdown", """
select extendedprice, quantity, partkey, suppkey, linenumber,
       returnflag, linestatus
from lineitem
where quantity >= {q}
order by extendedprice desc, partkey asc, suppkey asc,
         linenumber asc, quantity asc, returnflag asc,
         linestatus asc
limit {k} offset {o}
""", lambda rng: {"q": _qty(rng, 1, 45), "k": _qty(rng, 5, 60),
                  "o": _qty(rng, 0, 20)},
        [("where quantity >= 30", "where quantity >= {q}"),
         ("limit 40 offset 10", "limit {k} offset {o}")],
        peer=True),
    Shape("fed_grouped_topk", """
select returnflag, linestatus, extendedprice, orderkey, partkey,
       suppkey, linenumber, quantity, rk
from (select returnflag, linestatus, extendedprice, orderkey,
             partkey, suppkey, linenumber, quantity,
             row_number() over (
                 partition by returnflag, linestatus
                 order by extendedprice desc,
                          orderkey asc nulls first, partkey asc,
                          suppkey asc, linenumber asc,
                          quantity asc) as rk
      from lineitem where quantity >= {q}) t
where rk <= {n}
order by returnflag, linestatus, rk
""", lambda rng: {"q": _qty(rng, 1, 45), "n": _qty(rng, 1, 8)},
        [("where quantity >= 25", "where quantity >= {q}"),
         ("where rk <= 4", "where rk <= {n}")],
        peer=True),
    Shape("fed_topk_groups", """
select partkey, sum(quantity) as total_qty, count(*) as n
from lineitem
where quantity >= {q}
group by partkey
order by total_qty desc, partkey asc
limit {k}
""", lambda rng: {"q": _qty(rng, 1, 30), "k": _qty(rng, 3, 10)},
        [("where quantity >= 5", "where quantity >= {q}"),
         ("limit 5", "limit {k}")],
        peer=True),
    Shape("fed_topk_remote_hop", """
select price_cents, orderkey, partkey, suppkey, quantity
from priced_items
where quantity >= {q}
order by price_cents desc, orderkey asc nulls first,
         partkey asc, suppkey asc, quantity asc
limit {k}
""", lambda rng: {"q": _qty(rng, 1, 45), "k": _qty(rng, 5, 40)},
        [("where quantity >= 30", "where quantity >= {q}"),
         ("limit 20", "limit {k}")],
        split=None,
        peer=True),
    Shape("fed_q3_shipping_priority", """
select o.orderkey,
       round(sum(l.extendedprice
                 * (1 - l.discount_percent / 100)), 2) as revenue,
       cast(o.orderdate as date) as orderdate
from customer c
join orders o on c.custkey = o.custkey
join lineitem_all l on l.orderkey = o.orderkey
where c.mktsegment = '{seg}'
  and o.orderdate < timestamp '{d}'
  and l.shipdate > date '{d}'
group by o.orderkey, cast(o.orderdate as date)
order by revenue desc, o.orderkey
limit {k}
""", lambda rng: {"seg": str(rng.choice(datagen.SEGMENTS)),
                  "d": f"{int(rng.integers(1995, 2001))}-"
                       f"{int(rng.integers(1, 13)):02d}-15",
                  "k": _qty(rng, 5, 20)},
        [("'BUILDING'", "'{seg}'"),
         ("timestamp '1995-03-15'", "timestamp '{d}'"),
         ("date '1995-03-15'", "date '{d}'"),
         ("limit 10", "limit {k}")],
        modes=("engine",), split=None, rounded={"revenue": 2}),
]

PRINCIPALS = (None, "all_access")


def build_web(sf_dir: str):
    """The demo web plus the served ``edge`` relay, which declares the
    entities the declared ``fed_*`` queries build per call. Returns the web
    and the peer connection, whose ``port`` option the caller sets once the
    peer process is up."""
    from dataweb_spark.catalog.model import (
        DataConnection, DataField, DataSource, Entity, Information, Mapping,
        RelayCatalog, RemoteEntityMapping, RemoteInfoMapping, Transformation,
    )
    from dataweb_spark.demo import (
        LINEITEM_INFOS, _add_dimension_entities, build_demo_web,
        build_six_relay_web,
    )

    web = build_demo_web(sf_dir)
    edge = RelayCatalog(name="edge")
    web.add_relay(edge)
    edge.add_connection(DataConnection(
        name="files", kind="file", options={"path": sf_dir,
                                            "format": "parquet"}))
    peer_conn = DataConnection("peer_flight", "flight",
                               {"token": "edge-relay-token"})
    edge.add_connection(peer_conn)
    identity = [RemoteInfoMapping(i.name, i.name) for i in LINEITEM_INFOS]

    # the demo's global→na_us hop, one hop further out
    edge.add_entity(Entity("lineitem_us", list(LINEITEM_INFOS)))
    edge.remote_mappings.append(RemoteEntityMapping(
        local_entity="lineitem_us", peer="global", remote_entity="lineitem",
        info_mappings=identity))

    # identity window onto the peer process: whole templates forward
    edge.add_entity(Entity("lineitem", list(LINEITEM_INFOS)))
    edge.add_source(DataSource(
        name="lineitem_peer", connection="peer_flight", entity="lineitem",
        source_sql="select * from {table}",
        mappings=[Mapping(i.name, i.name) for i in LINEITEM_INFOS],
        options={"entity": "lineitem"}))

    edge.add_entity(Entity("sales", [Information("shipdate", "date"),
                                     Information("qty", "double")]))
    for name, pred, bounds in [
        ("sales_old", "l_shipdate < date '1996-01-01'",
         {"shipdate": (None, "1995-12-31")}),
        ("sales_new", "l_shipdate >= date '1996-01-01'",
         {"shipdate": ("1996-01-01", None)}),
    ]:
        edge.add_source(DataSource(
            name=name, connection="files", entity="sales",
            source_sql=("select l_shipdate, l_quantity from {table} "
                        f"where {pred}"),
            mappings=[Mapping("shipdate", "l_shipdate"),
                      Mapping("qty", "l_quantity")],
            options={"table": "lineitem.parquet"}, bounds=bounds))

    mid = RelayCatalog(name="hop_mid")
    mid.add_entity(Entity("mid_items", [
        Information("price", "double"), Information("orderkey", "bigint"),
        Information("partkey", "bigint"), Information("suppkey", "bigint"),
        Information("quantity", "double")]))
    mid.add_connection(peer_conn)
    mid.add_source(DataSource(
        name="items_peer", connection="peer_flight", entity="mid_items",
        source_sql="select * from {table}",
        fields=[DataField("extendedprice", "extendedprice", "double")],
        mappings=[Mapping("price", "extendedprice"),
                  Mapping("orderkey", "orderkey"),
                  Mapping("partkey", "partkey"),
                  Mapping("suppkey", "suppkey"),
                  Mapping("quantity", "quantity")],
        options={"entity": "lineitem"}))
    web.add_relay(mid)
    edge.add_entity(Entity("priced_items", [
        Information("price_cents", "double"),
        Information("orderkey", "bigint"), Information("partkey", "bigint"),
        Information("suppkey", "bigint"), Information("quantity", "double")]))
    edge.remote_mappings.append(RemoteEntityMapping(
        local_entity="priced_items", peer="hop_mid",
        remote_entity="mid_items",
        info_mappings=[RemoteInfoMapping(
            "price_cents", "price",
            Transformation("{v} * 100", "{v} / 100"))]))

    # TPC-H Q3: local dimensions joined with the six-relay fact table
    _add_dimension_entities(edge)
    six = build_six_relay_web(sf_dir)
    for relay in six.relays.values():
        relay.name = "s6_" + relay.name
        for rm in relay.remote_mappings:
            rm.peer = "s6_" + rm.peer
        web.add_relay(relay)
    edge.add_entity(Entity("lineitem_all", list(LINEITEM_INFOS)))
    edge.remote_mappings.append(RemoteEntityMapping(
        local_entity="lineitem_all", peer="s6_global",
        remote_entity="lineitem", info_mappings=identity))
    return web, peer_conn


def start_peer(root: str, sf_dir: str) -> subprocess.Popen:
    """Start the peer relay process; its JVM boots while ours does."""
    return subprocess.Popen(
        [sys.executable, os.path.join(root, "tools", "run_flight_relay.py"),
         sf_dir, json.dumps(PEER_TOKENS)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


def await_peer(proc: subprocess.Popen) -> int:
    line = proc.stdout.readline()
    if not line.startswith("PORT "):
        raise RuntimeError(f"peer relay failed to start: {line!r}")
    return int(line.split()[1])


def _peer_client(port: int) -> flight.FlightClient:
    from dataweb_spark.sources.flight_service import _TokenClientAuth
    client = flight.connect(f"grpc://127.0.0.1:{port}")
    client.authenticate(_TokenClientAuth("edge-relay-token"))
    return client


def _pass_through(batches):
    yield from batches


class _Boot(threading.Thread):
    """Start this session's Python workers, wait for the peer relay and run
    one query on it, so its first query is not timed."""

    def __init__(self, spark, peer: subprocess.Popen) -> None:
        super().__init__(daemon=True)
        self.spark, self.peer = spark, peer
        self.port: int | None = None
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            cpus = int(os.environ["SPARK_GRAFT_CPUS"])
            (self.spark.range(0, cpus, 1, cpus)
             .mapInArrow(_pass_through, "id long").count())
            self.port = await_peer(self.peer)
            client = _peer_client(self.port)
            cmd = json.dumps({"sql": "select returnflag, count(*) as n "
                                     "from lineitem group by returnflag",
                              "mode": "engine"})
            info = client.get_flight_info(
                flight.FlightDescriptor.for_command(cmd))
            for ep in info.endpoints:
                client.do_get(ep.ticket).read_all()
            client.close()
        except BaseException as e:  # noqa: BLE001 — re-raised by result()
            self.error = e

    def result(self) -> int:
        self.join()
        if self.error is not None:
            raise self.error
        return self.port


@dataclass
class Op:
    shape: Shape
    mode: str
    principal: str | None
    lits: dict
    sql: str
    repeat: bool
    tables: list = field(default_factory=list)   # (source, pa.Table)


class FedRelay:
    name = "fed_relay"
    docs_per_op = 0

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.np_rng = np.random.default_rng(ctx.seed)
        self.sf_dir = os.path.join(ctx.work, "data")
        self.ops: list[Op] = []
        self.seen: set[tuple] = set()
        self.history: dict[tuple, list[dict]] = {}
        self.decks: dict[str, list] = {s.name: [] for s in SHAPES}
        self.deals: dict[str, int] = {}
        self.dealt: dict[str, tuple] = {}
        self.cycle: list[Shape] = []
        self.pending: Op | None = None   # drawn by traced_op, run by op
        self.peer_before: tuple[int, int] = (0, 0)

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        self.rows = datagen.write_tables(self.sf_dir, self.ctx.seed)
        peer = start_peer(self.ctx.root, self.sf_dir)
        self.ctx.children.append(peer)
        self.ctx.tree.peer_pids.add(peer.pid)
        spark = self.ctx.session("perfbench-fed_relay")
        from dataweb_spark.sources.flight_service import serve_in_background
        self.web, peer_conn = build_web(self.sf_dir)
        self.server = serve_in_background(spark, self.web, "edge")
        self.client = flight.connect(f"grpc://127.0.0.1:{self.server.port}")
        # The peer's JVM and this session's Python workers start in the
        # background while the shapes that do not read the peer warm up.
        boot = _Boot(spark, peer)
        boot.start()
        # each shape warms up once, in the combination its first measured
        # op will use, so that op may repeat the warm-up text
        for shape in sorted(SHAPES, key=lambda s: s.peer):
            if shape.peer and "port" not in peer_conn.options:
                self.peer_port = boot.result()
                peer_conn.options["port"] = str(self.peer_port)
            mode, principal = self.dealt[shape.name] = self._deal(shape)
            lits = shape.draw(self.np_rng)
            self.history[(shape.name, mode, principal)] = [lits]
            sql = shape.sql.format(**lits)
            self.seen.add((sql, mode, principal))
            self._fetch(sql, mode, principal)
        self.peer_client = _peer_client(self.peer_port)

    # -- ops ------------------------------------------------------------------

    def keep_going(self, i: int, elapsed: float) -> bool:
        # whole cycles; a traced run makes two, so that with an odd cycle
        # length every shape gets one traced and one untraced op
        cycles = 2 if self.ctx.trace else 1
        return (elapsed < self.ctx.seconds or i % len(SHAPES) != 0
                or i < cycles * len(SHAPES))

    def traced_op(self, i: int) -> bool:
        # each shape is traced in one of its two cycles, chosen so that five
        # shapes are traced in engine mode and four in template mode, the
        # engine-mode top-groups protocol among them
        self.pending = self._next()
        cycle = i // len(SHAPES)
        traced = (SHAPES.index(self.pending.shape) // 2 + cycle) % 2 == 1
        if traced:
            self.peer_before = self._peer_counters()
        return traced

    def op_class(self, i: int) -> str:
        return self.ops[i].shape.name

    def _deal(self, shape: Shape) -> tuple[str, str | None]:
        """Next (mode, principal) of ``shape``. Modes alternate per shape,
        starting from the shape's position in ``SHAPES``, so every run's
        first cycle runs the same (shape, mode) pairs; the principal comes
        from a seed-shuffled deck of both."""
        n = self.deals[shape.name] = self.deals.get(shape.name, -1) + 1
        mode = shape.modes[(SHAPES.index(shape) + n) % len(shape.modes)]
        deck = self.decks[shape.name]
        if not deck:
            deck.extend(PRINCIPALS)
            self.rng.shuffle(deck)
        return mode, deck.pop()

    def _next(self) -> Op:
        if not self.cycle:
            self.cycle = list(SHAPES)
            self.rng.shuffle(self.cycle)
        shape = self.cycle.pop()
        mode, principal = self.dealt.pop(shape.name, None) \
            or self._deal(shape)
        key = (shape.name, mode, principal)
        past = self.history.setdefault(key, [])
        if past and self.rng.random() < 0.5:
            lits = self.rng.choice(past)
        else:
            lits = shape.draw(self.np_rng)
            past.append(lits)
        sql = shape.sql.format(**lits)
        text = (sql, mode, principal)
        op = Op(shape, mode, principal, lits, sql, text in self.seen)
        self.seen.add(text)
        return op

    def _fetch(self, sql: str, mode: str, principal: str | None):
        cmd = json.dumps({"sql": sql, "principal": principal, "mode": mode})
        rec = self.ctx.rec
        traced = rec is not None and rec.trace_id is not None
        with rec.span("plans.plan") if traced else nullcontext():
            info = self.client.get_flight_info(
                flight.FlightDescriptor.for_command(cmd))
        with rec.span("sources.exec") if traced else nullcontext():
            out = [(json.loads(ep.ticket.ticket)["source"],
                    self.client.do_get(ep.ticket).read_all())
                   for ep in info.endpoints]
        if traced:
            rec.count("sources.endpoints", len(out))
            rec.count("sources.result_bytes", sum(t.nbytes for _s, t in out))
        return out

    def op(self, i: int) -> None:
        op, self.pending = self.pending or self._next(), None
        self.ops.append(op)
        op.tables = self._fetch(op.sql, op.mode, op.principal)

    def _peer_counters(self) -> tuple[int, int]:
        """The peer's served rows and batches so far (its ``stats``)."""
        body = json.loads(b"".join(
            r.body.to_pybytes() for r in self.peer_client.do_action(
                flight.Action("stats", b""))))
        return body["served_rows"], body["served_batches"]

    # -- tracing --------------------------------------------------------------

    def install_tracing(self, rec) -> None:
        from dataweb_spark.plans.gateway import QueryGateway
        for mod, attr, span in [
            ("dataweb_spark.plans.validation", "validate_sql",
             "plans.validate"),
            ("dataweb_spark.plans.pruning", "extract_entity_predicates",
             "plans.facts"),
            ("dataweb_spark.plans.pruning", "extract_entity_limit",
             "plans.facts"),
            ("dataweb_spark.plans.pruning", "extract_referenced_columns",
             "plans.facts"),
            ("dataweb_spark.plans.pruning", "output_shape_has_star",
             "plans.facts"),
            ("dataweb_spark.plans.topk", "extract_order_limit",
             "plans.facts"),
            ("dataweb_spark.plans.topk", "extract_grouped_topk",
             "plans.facts"),
            ("dataweb_spark.plans.resolve", "register_entity_views",
             "plans.resolve"),
            ("dataweb_spark.plans.resolve", "build_source_view",
             "plans.resolve"),
        ]:
            rec.rebind(mod, attr, span)
        rec.rebind("dataweb_spark.sources.flight_service",
                   "flight_forward_template", "sources.forward",
                   count="sources.forward_calls")

        def rounds(_gw, _out, _args, kwargs):
            if kwargs.get("agg_round") is not None:
                rec.count("plans.topgroups_rounds")
        rec.patch_method(QueryGateway, "query_template_union", after=rounds)

    def traced_extras(self, i: int) -> dict:
        rows, batches = (a - b for a, b in zip(self._peer_counters(),
                                               self.peer_before))
        if not batches:
            return {}  # the op did not read the peer
        return {"sources.peer_rows": rows, "sources.peer_batches": batches}

    def op_layer_values(self, i: int, op_ms: float, m: dict) -> dict:
        return {"fed.unattributed_ms": op_ms - m.get("plans.plan_ms", 0.0)
                - m.get("sources.exec_ms", 0.0)}

    def unavailable_reason(self, name: str) -> str:
        if name == "plans.topgroups_rounds":
            return "no engine-mode top-groups query among the traced ops"
        return "no traced fed_relay op reached this layer"

    # -- checks ---------------------------------------------------------------

    def repeat_share(self) -> float:
        return sum(o.repeat for o in self.ops) / max(len(self.ops), 1)

    def _oracle_sqls(self, op: Op) -> list[str]:
        from dataweb_spark import queries as Q
        from dataweb_spark.queries import oracle_sql
        text = oracle_sql()[op.shape.name]
        for old, new in op.shape.subs:
            if old not in text:
                raise RuntimeError(f"{op.shape.name}: oracle text lacks "
                                   f"{old!r}")
            text = text.replace(old, new.format(**op.lits))
        if op.shape.permissioned:
            want = VIEW_ALL if op.principal == "all_access" else VIEW_DEFAULT
            if want != op.shape.base_view:
                views = {VIEW_DEFAULT: Q._FED_VIEW_DEFAULT,
                         VIEW_ALL: Q._FED_VIEW_ALL_ACCESS}
                text = text.replace(views[op.shape.base_view], views[want])
        if op.mode == "template" and op.shape.split:
            return [text.replace("from entity_lineitem", f"from {src}")
                    for src in op.shape.split]
        return [text]

    def check(self) -> list[int]:
        oracle = Oracle(self.ctx.root, self.sf_dir)
        bad = []
        try:
            for i, op in enumerate(self.ops):
                if not op.tables:
                    bad.append(i)
                    continue
                got = _concat([self._with_ticket(op, s, t)
                               for s, t in op.tables])
                post = op.shape.post.get(op.mode)
                if post is not None:
                    got = oracle.query(post, result=got)
                wants = [oracle.run(s) for s in self._oracle_sqls(op)]
                want = _concat(wants)
                for col in op.shape.drop.get(op.mode, ()):
                    want = want.drop_columns([col])
                ok, why = oracle.matches(got, want, op.shape.rounded)
                if not ok:
                    print(f"fed_relay op {i} {op.shape.name} {op.mode} "
                          f"{op.principal}: {why}", file=sys.stderr)
                    bad.append(i)
        finally:
            oracle.close()
        return bad

    def _with_ticket(self, op: Op, source: str, table: pa.Table) -> pa.Table:
        if op.mode == "template" and op.shape.ticket_col:
            return table.append_column(
                op.shape.ticket_col,
                pa.array([source] * table.num_rows, pa.string()))
        return table

    def properties(self) -> dict:
        return {"repeat_share": round(self.repeat_share(), 4),
                "lineitem_rows": self.rows["lineitem"],
                "shapes": len(SHAPES),
                "ops": len(self.ops)}


def _concat(tables: list[pa.Table]) -> pa.Table:
    if len(tables) == 1:
        return tables[0]
    return pa.concat_tables(tables, promote_options="permissive")


