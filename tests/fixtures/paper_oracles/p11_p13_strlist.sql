SELECT 'p11' AS op, p_partkey AS k, items AS s1, canonical AS s2
FROM (
    WITH s AS (SELECT p_partkey,
                      '[''' || p_name || ''', "second item", third]' AS raw
               FROM part),
    items AS (SELECT p_partkey,
                     LIST_FILTER(
                       LIST_TRANSFORM(STRING_SPLIT(raw, ','),
                         x -> TRIM(REPLACE(REPLACE(REPLACE(REPLACE(x,
                                '[', ''), ']', ''), '''', ''), '"', ''))),
                       x -> x <> '') AS lst
              FROM s)
    SELECT p_partkey, ARRAY_TO_STRING(lst, '|') AS items,
           CASE WHEN LEN(lst) = 0 THEN ''
                ELSE '[' || ARRAY_TO_STRING(
                       LIST_TRANSFORM(lst, x -> '''' || x || ''''), ', ')
                     || ']' END AS canonical
    FROM items
)
UNION ALL
SELECT 'p13' AS op, doc_id AS k, answer AS s1,
       CAST(NULL AS VARCHAR) AS s2
FROM (
    SELECT doc_id, SUBSTR(text, 1, 40) || ' ' AS answer FROM documents
)
