SELECT 't1' AS op, o_orderpriority AS grp, o_orderkey AS k,
       o_totalprice AS val, rn
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) WHERE rn <= 5
)
UNION ALL
SELECT 't2' AS op, event_type AS grp, event_id AS k, value AS val,
       CAST(NULL AS INT) AS rn
FROM (
    SELECT event_type, event_id, value FROM (
        SELECT event_type, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id ASC) AS rn
        FROM events) WHERE rn = 1
)
