WITH Costly AS (SELECT * FROM StormEvents WHERE DamageProperty >= 5000)
SELECT l.EventId, l.State, r.Kind
FROM Costly l
JOIN (SELECT EventId, EventType AS Kind FROM Costly) r ON l.EventId = r.EventId
ORDER BY l.EventId ASC NULLS FIRST
