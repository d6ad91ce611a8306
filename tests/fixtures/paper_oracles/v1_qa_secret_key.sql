SELECT doc_id,
       'SK-' || CAST((doc_id * 7919) % 99991 AS VARCHAR) AS answer
FROM documents
