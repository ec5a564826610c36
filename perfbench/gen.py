"""Seeded input generator, in the parquet layout graft's readers expect
(`<dir>/<table>.parquet`, the schemas of `graft.sources.Tables`).

Every cell is a pure function of (seed, column salt, row id) through
DuckDB's string `hash`, so the same seed writes the same rows, and row counts
depend on the scale alone. The distributions follow the TPC-H-like
fixture family graft is oracle-checked on: uniform foreign keys, 2-decimal
money, a 30-word vocabulary with 5% near-duplicate documents, unit-norm
64-dim Gaussian embeddings with 10 labels. Timestamps are written UTC.
"""
import os

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]


def _lit(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


class Gen:
    def __init__(self, con, seed):
        self.con = con
        self.seed = int(seed)

    def u(self, salt, *cols):
        """Uniform double in [0, 1)."""
        # one string key: DuckDB's multi-argument hash mixes its arguments
        # too weakly (neighbouring rows come out correlated across salts)
        args = ", ".join([str(self.seed), f"'{salt}'"] + list(cols))
        return f"((hash(concat_ws(':', {args})) >> 11)::DOUBLE / 9007199254740992.0)"

    def ui(self, salt, n, *cols):
        """Uniform BIGINT in [0, n)."""
        return f"floor({self.u(salt, *cols)} * {n})::BIGINT"

    def pick(self, values, salt, *cols):
        return f"({_lit(values)})[{self.ui(salt, len(values), *cols)} + 1]"

    @staticmethod
    def money(expr):
        return f"floor(({expr}) * 100 + 0.5) / 100"

    def text(self, src, salt):
        """8..95 words from the vocabulary, a function of row `src`."""
        n = f"{self.ui(salt + '.len', 88, src)} + 8"
        # word j hashes (row key + j): one integer hash per word, looked up
        # in the vocabulary laid out at fixed width in one string
        key = f"hash(concat_ws(':', {self.seed}, '{salt}.w', {src}))"
        idx = f"floor((hash({key} + j) >> 11)::DOUBLE / 9007199254740992.0 * {len(VOCAB)})"
        word = f"rtrim(substr('{''.join(w.ljust(8) for w in VOCAB)}', ({idx} * 8 + 1)::BIGINT, 8))"
        return f"array_to_string(list_transform(range({n}), j -> {word}), ' ')"

    def select(self, table, sf):
        def rows(base, lo=1):
            return max(lo, round(base * sf))
        n_cust, n_supp, n_part, n_ord = rows(150000), rows(10000), rows(200000), rows(1500000)
        u, ui, pick, money = self.u, self.ui, self.pick, self.money
        day = "INTERVAL 1 DAY"
        if table == "region":
            return ("SELECT range::INTEGER AS r_regionkey, "
                    "(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[range + 1] "
                    "AS r_name FROM range(5)")
        if table == "nation":
            return ("SELECT range::INTEGER AS n_nationkey, 'NATION_' || range AS n_name, "
                    "(range % 5)::INTEGER AS n_regionkey FROM range(25)")
        if table == "customer":
            return (f"SELECT range AS c_custkey, printf('Customer#%09d', range) AS c_name, "
                    f"{ui('c.nat', 25, 'range')}::INTEGER AS c_nationkey, "
                    f"{money(u('c.bal', 'range') + ' * 10999.0 - 999.0')} AS c_acctbal, "
                    f"{pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'c.seg', 'range')} "
                    f"AS c_mktsegment FROM range({n_cust})")
        if table == "supplier":
            return (f"SELECT range AS s_suppkey, printf('Supplier#%09d', range) AS s_name, "
                    f"{ui('s.nat', 25, 'range')}::INTEGER AS s_nationkey, "
                    f"{money(u('s.bal', 'range') + ' * 10999.0 - 999.0')} AS s_acctbal "
                    f"FROM range({n_supp})")
        if table == "part":
            adj = pick(["blue", "cold", "hot", "new", "old", "red", "small", "big"], "p.adj", "range")
            noun = pick(["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"],
                        "p.noun", "range")
            return (f"SELECT range AS p_partkey, {adj} || ' ' || {noun} AS p_name, "
                    f"'Brand#' || ({ui('p.brand', 25, 'range')} + 1) AS p_brand, "
                    f"{pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'], 'p.type', 'range')} "
                    f"AS p_type, ({ui('p.size', 50, 'range')} + 1)::INTEGER AS p_size, "
                    f"floor((900.0 + (range % 1000) / 10.0) * 10 + 0.5) / 10 AS p_retailprice "
                    f"FROM range({n_part})")
        if table == "orders":
            return (f"SELECT range AS o_orderkey, {ui('o.cust', n_cust, 'range')} AS o_custkey, "
                    f"{pick(['F', 'O', 'P'], 'o.st', 'range')} AS o_orderstatus, "
                    f"{money(u('o.price', 'range') + ' * 499000.0 + 1000.0')} AS o_totalprice, "
                    f"(TIMESTAMPTZ '1995-01-01 00:00:00+00' + {ui('o.date', 2404, 'range')} * {day}) "
                    f"AS o_orderdate, "
                    f"{pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'o.prio', 'range')} "
                    f"AS o_orderpriority FROM range({n_ord})")
        if table == "lineitem":
            return (f"SELECT {ui('l.ord', n_ord, 'range')} AS l_orderkey, "
                    f"{ui('l.part', n_part, 'range')} AS l_partkey, "
                    f"{ui('l.supp', n_supp, 'range')} AS l_suppkey, "
                    f"({ui('l.line', 7, 'range')} + 1)::INTEGER AS l_linenumber, "
                    f"({ui('l.qty', 50, 'range')} + 1)::DOUBLE AS l_quantity, "
                    f"{money(u('l.ext', 'range') + ' * 104096.0 + 901.0')} AS l_extendedprice, "
                    f"{ui('l.disc', 11, 'range')} / 100.0 AS l_discount, "
                    f"{ui('l.tax', 9, 'range')} / 100.0 AS l_tax, "
                    f"{pick(['A', 'N', 'R'], 'l.rf', 'range')} AS l_returnflag, "
                    f"{pick(['F', 'O'], 'l.ls', 'range')} AS l_linestatus, "
                    f"(TIMESTAMPTZ '1995-01-02 00:00:00+00' + {ui('l.ship', 2498, 'range')} * {day}) "
                    f"AS l_shipdate FROM range({rows(6000000)})")
        if table == "events":
            n = rows(1000000)
            return (f"SELECT range AS event_id, "
                    f"to_timestamp(1704067200 + floor((range + {u('e.ts', 'range')}) * "
                    f"{30 * 86400 / n}) ) AS ts, "
                    f"{ui('e.user', rows(15000), 'range')} AS user_id, "
                    f"{pick(['click', 'error', 'purchase', 'signup', 'view'], 'e.type', 'range')} "
                    f"AS event_type, {money('-ln(1.0 - ' + u('e.val', 'range') + ') * 50.0 + 0.01')} "
                    f"AS value, printf('{{\"k\": %d}}', {ui('e.k', 100, 'range')}) AS props "
                    f"FROM range({n})")
        if table == "documents":
            # every 20th document repeats its predecessor's text plus " dup":
            # a fixed near-duplicate structure, so dedup work does not vary
            # with the seed
            is_dup = "(range % 20 = 10)"
            src = f"CASE WHEN {is_dup} THEN range - 1 ELSE range END"
            return (f"SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM ("
                    f"SELECT range AS doc_id, {self.text('src', 'd')} || "
                    f"CASE WHEN is_dup THEN ' dup' ELSE '' END AS text, "
                    f"{pick(['en', 'en', 'en', 'de', 'es', 'fr', 'zh'], 'd.lang', 'range')} AS lang, "
                    f"'src' || (range % 20) AS source FROM ("
                    f"SELECT range, {is_dup} AS is_dup, {src} AS src FROM range({rows(50000, 100)})))")
        if table == "embeddings":
            g = (f"sqrt(-2.0 * ln(1.0 - {u('v.r', 'range', 'i')})) * "
                 f"cos(2 * pi() * {u('v.t', 'range', 'i')})")
            return (f"SELECT vec_id, list_transform(raw, x -> (x / sqrt(list_sum("
                    f"list_transform(raw, y -> y * y))))::FLOAT) AS embedding, label FROM ("
                    f"SELECT range AS vec_id, list_transform(range(64), i -> {g}) AS raw, "
                    f"{ui('v.label', 10, 'range')}::INTEGER AS label FROM range({rows(20000, 100)}))")
        raise ValueError(f"unknown table {table}")

    def write(self, out_dir, sf, tables):
        """Write each table as `<out_dir>/<table>.parquet/part-0.parquet`."""
        for t in tables:
            d = os.path.join(out_dir, f"{t}.parquet")
            os.makedirs(d, exist_ok=True)
            self.con.execute(f"COPY ({self.select(t, sf)}) TO '{d}/part-0.parquet' "
                             f"(FORMAT PARQUET)")

    def feed_texts(self, path, n):
        """`n` fresh documents (the text model under another salt)."""
        os.makedirs(path, exist_ok=True)
        self.con.execute(f"COPY (SELECT range AS i, {self.text('range', 'feed')} AS text "
                         f"FROM range({n})) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


def fingerprint(con, out_dir, tables):
    """Row count, parquet bytes and an order-independent content digest."""
    fp = {}
    for t in tables:
        d = os.path.join(out_dir, f"{t}.parquet")
        size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        rows, digest = con.execute(
            f"SELECT count(*), sum(hash(t)::HUGEINT) FROM '{d}/*.parquet' t").fetchone()
        fp[t] = {"rows": rows, "bytes": size, "digest": str(digest)}
    return fp
