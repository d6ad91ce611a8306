WITH e AS (
    SELECT doc_id AS u, doc_id + 1 AS v
    FROM documents WHERE doc_id % 5 <> 4),
nodes AS (
    SELECT u AS id FROM e UNION SELECT v FROM e),
m AS (SELECT MIN(doc_id) AS mn FROM documents)
SELECT id,
       GREATEST(5 * (id // 5), (SELECT mn FROM m))
           AS component
FROM nodes
ORDER BY id
