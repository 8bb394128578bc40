-- unparse-gate transcript (duckdb remote dialect)

-- in : SELECT o_orderkey, o_totalprice FROM remote.orders WHERE o_totalprice > 1000 ORDER BY o_totalprice DESC LIMIT 5
-- out:
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 1000 ORDER BY o_totalprice DESC NULLS LAST LIMIT 5

-- in : SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s FROM remote.orders GROUP BY o_orderstatus HAVING count(*) > 2 ORDER BY n
-- out:
SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s FROM orders GROUP BY o_orderstatus HAVING count(*) > 2 ORDER BY n NULLS FIRST

-- in : SELECT c.c_name, o.o_orderkey FROM remote.orders o JOIN remote.customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey LIMIT 10
-- out:
SELECT c.c_name, o.o_orderkey FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey NULLS FIRST LIMIT 10

-- in : SELECT DISTINCT o_orderpriority FROM remote.orders ORDER BY o_orderpriority
-- out:
SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority NULLS FIRST

-- in : SELECT o_orderkey FROM remote.orders WHERE o_orderkey IN (SELECT o_orderkey FROM remote.orders WHERE o_totalprice > 5000)
-- out:
SELECT o_orderkey FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 5000)

-- in : SELECT n_name, (SELECT count(*) FROM remote.customer c WHERE c.c_nationkey = n.n_nationkey) AS nc FROM remote.nation n ORDER BY n_name
-- out:
SELECT n_name, (SELECT count(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey) AS nc FROM nation n ORDER BY n_name NULLS FIRST

-- in : SELECT o_orderkey FROM remote.orders UNION ALL SELECT c_custkey FROM remote.customer
-- out:
SELECT o_orderkey FROM orders UNION ALL SELECT c_custkey FROM customer

-- in : SELECT upper(c_name) AS cn, length(c_address) AS la FROM remote.customer ORDER BY cn NULLS LAST LIMIT 3
-- stays local: function not in the proven-shared allowlist: upper

-- in : SELECT o_orderdate, o_totalprice, 'it''s' AS q FROM remote.orders WHERE o_orderdate >= DATE '1995-01-01' LIMIT 2
-- out:
SELECT o_orderdate, o_totalprice, 'it''s' AS q FROM orders WHERE o_orderdate >= DATE '1995-01-01' LIMIT 2

-- in : SELECT CASE WHEN o_totalprice > 1000 THEN 'big' ELSE 'small' END AS sz, count(*) AS n FROM remote.orders GROUP BY sz ORDER BY sz
-- out:
SELECT CASE WHEN o_totalprice > 1000 THEN 'big' ELSE 'small' END AS sz, count(*) AS n FROM orders GROUP BY sz ORDER BY sz NULLS FIRST
